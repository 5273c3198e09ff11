"""Engine entry points: build / audit / explain / diff.

Spark-first re-implementation of the reference lifecycle
(/root/reference/src/timefence/engine.py:933-2089). The reference generates
DuckDB SQL strings step by step; here every step is a declarative DataFrame
plan so Catalyst handles predicate pushdown, column pruning, join selection
and AQE does runtime re-planning. The only physical decisions the engine owns
are the ones Spark cannot infer:

* as-of strategy (the no-fanout union/last_value plan by default; an opt-in
  range join that broadcasts small feature tables) — see operators/asof.py;
* a single localCheckpoint() of the label spine (pins the nondeterministic
  row id against recomputation — eviction-proof, unlike a cache);
* the output order, made by the writer without a range sort: a single-file
  output is one sorted partition, a directory output sorts each part file.
  Nothing is cached, so the match runs once per build and AQE sizes every
  shuffle; the session's shuffle width is never changed.
"""

from __future__ import annotations

import glob
import logging
import shutil
import sys
import time
import uuid
import warnings
from collections.abc import Collection, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timefence_spark._constants import (
    DEFAULT_ATOL,
    DEFAULT_MAX_LOOKBACK,
    DEFAULT_MAX_LOOKBACK_DAYS,
    DEFAULT_ON_MISSING,
    DEFAULT_RTOL,
    UNION_GROUP_MAX_FEATURES,
)
from timefence_spark._checkpoint import pin
from timefence_spark._duration import (
    duration_seconds,
    format_duration,
    parse_duration,
)
from timefence_spark.core import (
    Feature,
    FeatureSet,
    Labels,
    Source,
    SQLSource,
    flatten_features,
    safe_name,
)
from timefence_spark.errors import (
    TimefenceConfigError,
    TimefenceSchemaError,
    TimefenceValidationError,
    config_error_embargo_lookback,
    duplicate_error,
    schema_error_missing_key,
    timezone_error,
)
from timefence_spark.operators.asof import (
    ROW_ID,
    _payload_orderable,
    pit_match,
    pit_match_multi,
    resolve_strategy,
)
from timefence_spark.results import (
    AuditReport,
    BuildResult,
    BuildStats,
    DiffResult,
    ExplainResult,
    FeatureAuditDetail,
    classify_severity,
)
from timefence_spark.sources.readers import (
    _abs,
    load_labels_df,
    load_source_df,
    read_parquet,
    register_view,
)

logger = logging.getLogger(__name__)

__version__ = "0.1.0"


# ---------------------------------------------------------------------------
# Session + misc helpers
# ---------------------------------------------------------------------------


def _opt_str(p: str | Path | None) -> str | None:
    return str(p) if p is not None else None

def _preload_sources(spark: SparkSession, flat_features) -> dict[str, DataFrame]:
    """Load every unique source, parallelizing only the THREAD-SAFE ones.

    Plain parquet / in-memory-DataFrame sources are pure reads and load
    through a small thread pool (each spark.read is otherwise a serial
    ~50ms driver round-trip). CSV and SQL sources mutate session-global
    state — the CSV reader temporarily flips spark.sql.timestampType for
    NTZ inference, SQL sources register temp views — so they load
    sequentially on the calling thread; two concurrent CSV loads could
    otherwise "restore" each other's conf value and silently flip every
    later timestamp to TIMESTAMP_LTZ."""
    unique_sources: list = []
    seen: set[str] = set()
    for feat in flat_features:
        if feat.source.name not in seen:
            seen.add(feat.source.name)
            unique_sources.append(feat.source)
    parallel_safe = [
        s
        for s in unique_sources
        if not isinstance(s, SQLSource)
        and (s.df is not None or s.format == "parquet")
    ]
    registered: dict[str, DataFrame] = {}
    if len(parallel_safe) > 1:
        with ThreadPoolExecutor(max_workers=min(8, len(parallel_safe))) as pool:
            loaded = list(
                pool.map(lambda s: load_source_df(spark, s), parallel_safe)
            )
        registered.update({s.name: df for s, df in zip(parallel_safe, loaded)})
    for src in unique_sources:
        if src.name not in registered:
            registered[src.name] = load_source_df(spark, src)
    return registered




def get_spark(spark: SparkSession | None = None) -> SparkSession:
    """Active session, or a local one with scale-sane defaults."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return (
        SparkSession.builder.appName("timefence-spark")
        .master("local[*]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )


def _is_tz_aware(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.TimestampType)


def _is_tz_naive(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.TimestampNTZType)


def _epoch_us(col: F.Column, dtype: T.DataType) -> F.Column:
    """Microseconds since epoch for any temporal column. Session timezone is
    pinned to UTC by tests/CLI, making NTZ -> TS casts the identity mapping."""
    if isinstance(dtype, (T.TimestampNTZType, T.DateType)):
        col = col.cast("timestamp")
    return F.unix_micros(col)


def _staging_path(output: str | Path) -> Path | None:
    """Hidden sibling that a write lands in before it replaces ``output``
    (None for URI outputs, which are written in place)."""
    out = _abs(output)
    if "://" in out:
        return None
    final = Path(out)
    return final.parent / f".{final.name}.staging-{uuid.uuid4().hex[:8]}"


def _remove_path(path: Path | None) -> None:
    if path is None:
        return
    if path.is_dir():
        shutil.rmtree(path, ignore_errors=True)
    elif path.exists():
        path.unlink()


def _single_file(output: str | Path, partition_by: Sequence[str] | None) -> bool:
    """A ``.parquet``/``.pq`` output is ONE parquet file (reference UX
    parity: COPY TO writes a single file, engine.py:1312-1317). Only
    sensible at driver scale — directory outputs are the 100 TB path."""
    return not partition_by and str(output).endswith((".parquet", ".pq"))


def _stage_output(
    df: DataFrame,
    output: str | Path,
    staging: Path | None,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Write ``df`` into ``staging`` (or straight to a URI ``output``);
    :func:`_commit_output` moves it into place."""
    if _single_file(output, partition_by):
        df = df.coalesce(1)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if staging is not None:
        staging.parent.mkdir(parents=True, exist_ok=True)
    writer.parquet(str(staging) if staging is not None else _abs(output))


def _commit_output(
    staging: Path | None,
    output: str | Path,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Replace ``output`` with the staged write: until this rename an
    earlier output at that path is untouched."""
    if staging is None:
        return
    src = staging
    if _single_file(output, partition_by):
        parts = glob.glob(str(staging / "part-*.parquet"))
        if not parts:
            raise TimefenceValidationError(f"No parquet part written under {staging}")
        src = Path(parts[0])
    final = Path(_abs(output))
    _remove_path(final)
    shutil.move(str(src), str(final))
    _remove_path(staging)


def _write_output(
    df: DataFrame,
    output: str | Path,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Stage and commit in one step (no check runs in between)."""
    staging = _staging_path(output)
    try:
        _stage_output(df, output, staging, partition_by)
    except BaseException:
        _remove_path(staging)
        raise
    _commit_output(staging, output, partition_by)


def _content_hash_safe(path: Path | None, store: Any) -> str | None:
    if path is None:
        return None
    try:
        if store is not None and hasattr(store, "cached_content_hash"):
            return store.cached_content_hash(path)
        from timefence_spark.store import Store

        return Store.content_hash(path)
    except OSError as exc:
        logger.debug("Content hash failed for %s: %s", path, exc)
        return None


def _definition_hash(feat: Feature) -> str:
    import hashlib

    from timefence_spark._constants import CACHE_KEY_LENGTH

    digest = hashlib.sha256(feat.definition_hash_input.encode()).hexdigest()
    return f"sha256:{digest[:CACHE_KEY_LENGTH]}"


def _python_version() -> str:
    v = sys.version_info
    return f"{v.major}.{v.minor}.{v.micro}"


# ---------------------------------------------------------------------------
# Validation (semantic invariants; reference engine.py:508-675)
# ---------------------------------------------------------------------------


def _validate_source_schema(
    src_df: DataFrame, feature: Feature, label_keys: list[str]
) -> None:
    columns = src_df.columns
    for key in feature.source_keys:
        if key not in columns:
            raise schema_error_missing_key(feature.name, feature.source_keys, columns)
    ts = feature.source.timestamp
    if ts not in columns:
        raise TimefenceSchemaError(
            f"Feature '{feature.name}' source is missing timestamp column '{ts}'.\n\n"
            f"  Available columns: {columns}\n"
        )
    if feature.mode == "columns":
        for src_col in feature._columns:
            if src_col not in columns:
                raise TimefenceSchemaError(
                    f"Feature '{feature.name}' references column '{src_col}' "
                    f"which does not exist in source '{feature.source.name}'.\n\n"
                    f"  Available columns: {columns}\n"
                )


def _validate_timezones(
    label_dtype: T.DataType,
    feat_df: DataFrame,
    feature: Feature,
    labels_df: DataFrame,
    label_time_col: str,
) -> None:
    """Naive-vs-aware mismatch is a hard error (reference engine.py:539-583).
    Spark's schema carries the distinction (TimestampType vs TimestampNTZType),
    so no data probing is needed on the happy path — the example values in
    the error message are head(1)-probed only once a mismatch is found."""
    if "feature_time" not in feat_df.columns:
        return
    feat_dtype = feat_df.schema["feature_time"].dataType
    label_aware = _is_tz_aware(label_dtype)
    feat_aware = _is_tz_aware(feat_dtype)
    label_temporal = label_aware or _is_tz_naive(label_dtype)
    feat_temporal = feat_aware or _is_tz_naive(feat_dtype)
    if label_temporal and feat_temporal and label_aware != feat_aware:
        feat_sample = "N/A"
        row = feat_df.select("feature_time").where(F.col("feature_time").isNotNull()).head(1)
        if row:
            feat_sample = str(row[0][0])
        label_sample = "N/A"
        lrow = (
            labels_df.select(label_time_col)
            .where(F.col(label_time_col).isNotNull())
            .head(1)
        )
        if lrow:
            label_sample = str(lrow[0][0])
        raise timezone_error(
            feature.name,
            "UTC" if label_aware else None,
            "UTC" if feat_aware else None,
            label_sample,
            feat_sample,
        )


def _dup_check_agg(src_df: DataFrame, feature: Feature) -> DataFrame:
    """Duplicate-(key, ts) group count for one source — one shuffle, lazy."""
    key_ts = [*feature.source_keys, feature.source.timestamp]
    grouped = src_df.groupBy(*key_ts).agg(F.count(F.lit(1)).alias("cnt"))
    return grouped.agg(
        F.count(F.when(F.col("cnt") > 1, F.lit(1))).alias("dup_pairs"),
    )


def _warn(message: str) -> None:
    """``warnings.warn`` attributed to the first caller outside this
    package: build warnings are raised at different call depths, so a
    fixed ``stacklevel`` would point into the engine (Python 3.11 has no
    ``skip_file_prefixes``)."""
    package = Path(__file__).parent
    frame, level = sys._getframe(1), 2
    while frame is not None and Path(frame.f_code.co_filename).is_relative_to(package):
        frame, level = frame.f_back, level + 1
    warnings.warn(message, stacklevel=level)


def _apply_dup_policy(src_df: DataFrame, feat: Feature, dup_pairs: int) -> None:
    """Raise / warn per on_duplicate (reference engine.py:586-627); the
    top-3 example query runs only on the error path."""
    if dup_pairs <= 0:
        return
    if feat.on_duplicate == "error":
        key_ts = [*feat.source_keys, feat.source.timestamp]
        grouped = src_df.groupBy(*key_ts).agg(F.count(F.lit(1)).alias("cnt"))
        examples = [
            r.asDict()
            for r in grouped.where(F.col("cnt") > 1)
            .orderBy(F.desc("cnt"))
            .limit(3)
            .collect()
        ]
        raise duplicate_error(feat.name, dup_pairs, examples)
    _warn(
        f"Feature '{feat.name}' has {dup_pairs} duplicate "
        f"(key, feature_time) pairs. Using on_duplicate='keep_any' — "
        "one row will be selected deterministically (max payload)."
    )


def _observation_get(obs: Any) -> dict | None:
    """``Observation.get`` after the observed plan's action ran. Spark
    resolves every observation of an executed plan when the action ends,
    raising for one whose CollectMetrics node the optimizer removed
    (statically empty relations, AQE replacing a zero-row subtree).
    Returns the metrics, or None when unavailable — callers fall back to
    a standalone aggregation."""
    try:
        return obs.get
    except Exception:
        return None


def _null_key_or_time(feat: Feature, time_col: str) -> F.Column:
    """Rows the union window plan excludes: NULL in any key or the time."""
    cond = F.col(time_col).isNull()
    for k in feat.source_keys:
        cond = cond | F.col(k).isNull()
    return cond


def _batch_duplicate_checks(
    checks: Sequence[tuple[DataFrame, Feature]],
    null_subset_checks: Sequence[tuple[DataFrame, Feature]] = (),
) -> list[int]:
    """Run every source's duplicate check as ONE Spark action.

    Unioning the per-source aggregates into a single action runs the
    scans in parallel and pays the per-job overhead once (a 10-feature
    build used to pay 10 sequential jobs). Shuffle volume is unchanged —
    O(distinct (key, ts)) per source, map-side combined.

    ``checks`` get the full aggregation with the on_duplicate policy
    applied in declaration order. ``null_subset_checks`` are sources whose
    main duplicate count rides the build's window pass (pit_match_multi
    dup_track); only their NULL-key/NULL-time rows — which that pass
    cannot see — are aggregated, and the caller applies the policy.
    Returns their duplicate-group counts, in order."""
    from functools import reduce

    branches = [
        _dup_check_agg(src_df, feat).select(F.lit(f"c{i}").alias("tag"), "dup_pairs")
        for i, (src_df, feat) in enumerate(checks)
    ]
    if null_subset_checks:
        # Every source's NULL rows union into ONE stream carrying its
        # (keys, ts) group as a per-source struct column (structs keep
        # exact type semantics; other sources' rows are NULL there, so
        # cross-source rows never collide), and one two-stage aggregation
        # covers all sources instead of ~2 AQE stages per source.
        sides = [
            src_df.where(_null_key_or_time(feat, feat.source.timestamp)).select(
                F.lit(f"n{i}").alias("tag"),
                F.struct(*feat.source_keys, feat.source.timestamp).alias(f"__g{i}"),
            )
            for i, (src_df, feat) in enumerate(null_subset_checks)
        ]
        unioned = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), sides
        )
        group_cols = [f"__g{i}" for i in range(len(sides))]
        grouped = unioned.groupBy("tag", *group_cols).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        branches.append(
            grouped.groupBy("tag").agg(
                F.count(F.when(F.col("cnt") > 1, F.lit(1))).alias("dup_pairs"),
            )
        )
    if not branches:
        return []
    rows = reduce(lambda a, b: a.unionByName(b), branches).collect()
    dup_pairs = {r["tag"]: int(r["dup_pairs"] or 0) for r in rows}
    for i, (src_df, feat) in enumerate(checks):
        _apply_dup_policy(src_df, feat, dup_pairs[f"c{i}"])
    # A source with zero NULL rows contributes no group row at all.
    return [dup_pairs.get(f"n{i}", 0) for i in range(len(null_subset_checks))]


def _validate_splits(splits: dict[str, tuple[str, str]]) -> None:
    """Overlap = error, gap = warning (reference engine.py:630-675);
    coverage of the labels is checked after the build's action (see
    :func:`_warn_split_coverage`)."""
    sorted_splits = sorted(splits.items(), key=lambda x: x[1][0])
    for (name_a, (_, end_a)), (name_b, (start_b, _)) in zip(
        sorted_splits, sorted_splits[1:]
    ):
        if end_a > start_b:
            raise TimefenceConfigError(
                f"Split ranges overlap: '{name_a}' ends at {end_a} "
                f"but '{name_b}' starts at {start_b}."
            )
        if end_a < start_b:
            _warn(
                f"Gap between splits '{name_a}' (ends {end_a}) and '{name_b}' "
                f"(starts {start_b}). Labels in this range will not appear in any split."
            )


def _warn_split_coverage(
    splits: dict[str, tuple[str, str]], min_label: Any, max_label: Any
) -> None:
    """Warn when the splits do not reach the labels' first or last
    label_time (the range the build's stats aggregation observed)."""
    if min_label is None:
        return
    first_start = min(start for start, _ in splits.values())
    last_end = max(splits.values())[1]
    min_label, max_label = str(min_label)[:19], str(max_label)[:19]
    if first_start > min_label:
        _warn(f"Splits start at {first_start} but labels start at {min_label}.")
    if last_end < max_label:
        _warn(f"Splits end at {last_end} but labels extend to {max_label}.")


def _validate_feature_names(flat_features: list[Feature]) -> None:
    seen_names: dict[str, int] = {}
    seen_safe: dict[str, list[str]] = {}
    for feat in flat_features:
        seen_names[feat.name] = seen_names.get(feat.name, 0) + 1
        seen_safe.setdefault(safe_name(feat.name), []).append(feat.name)
    duplicates = {n: c for n, c in seen_names.items() if c > 1}
    if duplicates:
        dup_str = ", ".join(f"'{n}' (x{c})" for n, c in duplicates.items())
        raise TimefenceConfigError(
            f"Duplicate feature names: {dup_str}.\n\n"
            "  Each feature must have a unique name; duplicates would silently\n"
            "  overwrite one another.\n\n"
            '  Fix: set an explicit name: Feature(..., name="unique_name")\n'
        )
    collisions = {s: n for s, n in seen_safe.items() if len(set(n)) > 1}
    if collisions:
        pairs = ", ".join(str(sorted(set(n))) for n in collisions.values())
        raise TimefenceConfigError(
            f"Feature names collide after sanitization: {pairs}.\n\n"
            "  These names are distinct but map to the same internal identifier.\n"
            "  Fix: rename features to avoid ambiguity.\n"
        )


# ---------------------------------------------------------------------------
# Feature table computation (reference engine.py:678-749)
# ---------------------------------------------------------------------------


def _compute_feature_df(
    spark: SparkSession, feat: Feature, src_df: DataFrame
) -> tuple[DataFrame, list[str]]:
    """Normalize a feature to [*source_keys, feature_time, *value_cols].
    Returns (df, value_cols)."""
    if feat.mode == "columns":
        projected = src_df.select(
            *[F.col(k) for k in feat.source_keys],
            F.col(feat.source.timestamp).alias("feature_time"),
            *[
                F.col(s).alias(o) if s != o else F.col(s)
                for s, o in feat._columns.items()
            ],
        )
        return projected, list(feat._columns.values())
    if feat.mode == "sql":
        view = register_view(src_df, f"src_{feat.source.name}")
        fdf = spark.sql(feat._sql_text.replace("{source}", view))  # type: ignore[union-attr]
    else:
        fdf = feat._transform(spark, src_df)  # type: ignore[misc]
        if not isinstance(fdf, DataFrame):
            raise TimefenceValidationError(
                f"Feature '{feat.name}' transform must return a Spark DataFrame, "
                f"got {type(fdf).__name__}."
            )
    if "feature_time" not in fdf.columns:
        raise TimefenceSchemaError(
            f"Feature '{feat.name}' ({feat.mode} mode) must emit a 'feature_time' "
            f"column.\n  Emitted columns: {fdf.columns}"
        )
    value_cols = [
        c for c in fdf.columns if c != "feature_time" and c not in feat.source_keys
    ]
    return fdf, value_cols


# ---------------------------------------------------------------------------
# build() phases
# ---------------------------------------------------------------------------


@dataclass
class _Build:
    """One build's validated options plus the state its phases hand on
    (phase 1 creates it; later phases read it and append to it)."""

    spark: SparkSession
    labels: Labels
    features: list[Feature]
    output: str | Path | None
    lookback_td: timedelta
    staleness_td: timedelta | None
    join: str
    on_missing: str
    strategy: str
    skew_bucket_s: int | None
    part_list: list[str]
    flatten_columns: bool
    splits: dict[str, tuple[str, str]] | None
    store: Any
    progress: Callable[[str], None] | None
    start_time: float
    transcript: list[str] = field(default_factory=list)
    feature_cache_keys: list[str] = field(default_factory=list)
    feature_cached: dict[str, bool] = field(default_factory=dict)

    def emit(self, msg: str) -> None:
        if self.progress is not None:
            self.progress(msg)

    def cache_key(self, feature_cache_keys: list[str]) -> str:
        output_spec = (
            f"{_abs(str(self.output))}:{sorted(self.part_list)}:{self.flatten_columns}"
            if self.output is not None
            else ""
        )
        return self.store.build_cache_key(
            _content_hash_safe(self.labels.path, self.store),
            feature_cache_keys,
            format_duration(self.lookback_td),
            format_duration(self.staleness_td),
            self.join,
            self.on_missing,
            output_spec,
        )

    def invariant(self, feat: Feature) -> str:
        lt = self.labels.label_time
        op = "<" if self.join == "strict" else "<="
        line = (
            f"-- pit_match[{feat.name}] strategy={self.strategy} "
            f"invariant: feature_time {op} {lt} - {format_duration(feat.embargo)} "
            f"AND feature_time >= {lt} - {format_duration(self.lookback_td)}"
        )
        if self.staleness_td:
            line += f" AND feature_time >= {lt} - {format_duration(self.staleness_td)}"
        return line


def _validate_build_args(
    labels: Labels,
    features: Sequence[Feature | FeatureSet],
    output: str | Path | None,
    spark: SparkSession | None,
    *,
    max_lookback: str | timedelta,
    max_staleness: str | timedelta | None,
    join: str,
    on_missing: str,
    strategy: str,
    output_partition_by: str | Sequence[str] | None,
    skew_bucket: str | timedelta | None,
    flatten_columns: bool,
    splits: dict[str, tuple[str, str]] | None,
    store: Any,
    progress: Callable[[str], None] | None,
) -> _Build:
    """Phase 1: parse and check every option before any Spark work."""
    start_time = time.time()
    strategy = resolve_strategy(strategy)
    spark = get_spark(spark)
    lookback_td = parse_duration(max_lookback) or timedelta(
        days=DEFAULT_MAX_LOOKBACK_DAYS
    )
    staleness_td = parse_duration(max_staleness)
    if join not in ("strict", "inclusive"):
        raise TimefenceConfigError(f"join must be 'strict' or 'inclusive', got '{join}'.")
    try:
        skew_bucket_s = duration_seconds(parse_duration(skew_bucket))
    except ValueError as exc:
        raise TimefenceConfigError(
            f"Invalid skew_bucket duration '{skew_bucket}': {exc}"
        ) from exc
    if on_missing not in ("null", "skip"):
        raise TimefenceConfigError(
            f"on_missing must be 'null' or 'skip', got '{on_missing}'."
        )
    if splits:
        _validate_splits(splits)
    flat_features = flatten_features(features)
    _validate_feature_names(flat_features)
    for feat in flat_features:
        if feat.embargo >= lookback_td:
            raise config_error_embargo_lookback(
                format_duration(feat.embargo) or "0d",
                format_duration(lookback_td) or DEFAULT_MAX_LOOKBACK,
            )
        if staleness_td is not None and staleness_td <= feat.embargo:
            raise TimefenceConfigError(
                f"max_staleness ({format_duration(staleness_td)}) must be greater "
                f"than embargo ({format_duration(feat.embargo)}) for feature '{feat.name}'."
            )
    return _Build(
        spark=spark,
        labels=labels,
        features=flat_features,
        output=output,
        lookback_td=lookback_td,
        staleness_td=staleness_td,
        join=join,
        on_missing=on_missing,
        strategy=strategy,
        skew_bucket_s=skew_bucket_s,
        part_list=(
            [output_partition_by]
            if isinstance(output_partition_by, str)
            else list(output_partition_by or [])
        ),
        flatten_columns=flatten_columns,
        splits=splits,
        store=store,
        progress=progress,
        start_time=start_time,
    )


def _cached_build(b: _Build) -> BuildResult | None:
    """Phase 2: the store's build-level cache probe (reference
    engine.py:1017-1057) — a hit returns the recorded build."""
    if b.store is None or b.output is None:
        return None
    cached_build = b.store.find_cached_build(
        b.cache_key(
            [
                b.store.feature_cache_key(
                    _definition_hash(feat),
                    _content_hash_safe(feat.source.path, b.store),
                    format_duration(feat.embargo),
                )
                for feat in b.features
            ]
        )
    )
    if cached_build is None:
        return None
    elapsed = time.time() - b.start_time
    cached_build["duration_seconds"] = elapsed
    out = cached_build.get("output", {})
    return BuildResult(
        output_path=out.get("path"),
        manifest=cached_build,
        stats=BuildStats(
            row_count=out.get("row_count", 0),
            column_count=out.get("column_count", 0),
            feature_stats={
                k: {
                    "matched": v.get("matched_rows", 0),
                    "missing": v.get("missing_rows", 0),
                    "cached": True,
                }
                for k, v in cached_build.get("features", {}).items()
            },
            duration_seconds=elapsed,
        ),
        sql="-- cached build",
    )


def _zero_join(features: Sequence[Feature], keys: list[str], strategy: str) -> bool:
    """Whether every feature resolves in ONE union/window pass under one
    key mapping, so the label row can ride through it (pit_match_multi
    carry_left) — no row id, no pin and no recombination join."""
    key_mappings = {tuple(f.key_mapping.get(k, k) for k in keys) for f in features}
    return (
        bool(features)
        and strategy == "union"
        and len(key_mappings) == 1
        and len(features) <= UNION_GROUP_MAX_FEATURES
    )


def _load_spine(
    b: _Build, checkpoint_dir: str | Path | None
) -> tuple[DataFrame, DataFrame, bool]:
    """Phase 3: load the labels and decide the spine's physical plan.

    A zero-join build (see :func:`_zero_join`) matches the labels as they
    are. Any other plan recombines on a row id, pinned by localCheckpoint:
    monotonically_increasing_id is recomputed per action and unstable
    (SURVEY §7.3 trap 2), and persist() alone is one cache eviction or
    executor loss away from reassigning ids mid-build. ``checkpoint_dir``
    pins to reliable storage instead of executor-local blocks. Label
    count and time range are not probed here: every plan keeps the spine
    1:1 in the combined table, so they ride the build's one action.
    Returns (labels, spine, zero_join)."""
    b.emit("Loading labels")
    labels_raw = load_labels_df(b.spark, b.labels)
    lt = b.labels.label_time
    label_cols = labels_raw.columns
    for key in b.labels.keys:
        if key not in label_cols:
            raise TimefenceSchemaError(
                f"Labels missing key column '{key}'.\n  Available: {label_cols}"
            )
    if lt not in label_cols:
        raise TimefenceSchemaError(
            f"Labels missing label_time column '{lt}'.\n  Available: {label_cols}"
        )
    zero_join = _zero_join(b.features, b.labels.keys, b.strategy)
    spine = labels_raw
    if not zero_join:
        spine = pin(
            labels_raw.withColumn(ROW_ID, F.monotonically_increasing_id()),
            checkpoint_dir=_opt_str(checkpoint_dir),
            eager=True,
        )
    return labels_raw, spine, zero_join


def _feature_table(
    b: _Build, feat: Feature, src_df: DataFrame
) -> tuple[DataFrame, list[str]]:
    """One feature table, read from or written to the store's feature
    cache when a store is attached (the write is best-effort)."""
    if b.store is None:
        b.feature_cached[feat.name] = False
        return _compute_feature_df(b.spark, feat, src_df)
    fck = b.store.feature_cache_key(
        _definition_hash(feat),
        _content_hash_safe(feat.source.path, b.store),
        format_duration(feat.embargo),
    )
    b.feature_cache_keys.append(fck)
    cache_path = _abs(b.store.feature_cache_path(feat.name, fck))
    b.feature_cached[feat.name] = b.store.has_feature_cache(feat.name, fck)
    if b.feature_cached[feat.name]:
        fdf = b.spark.read.parquet(cache_path)
        value_cols = [
            c for c in fdf.columns if c != "feature_time" and c not in feat.source_keys
        ]
        return fdf, value_cols
    fdf, value_cols = _compute_feature_df(b.spark, feat, src_df)
    try:
        fdf.write.mode("overwrite").parquet(cache_path)
        fdf = b.spark.read.parquet(cache_path)
    except Exception as exc:
        logger.warning("Feature cache write failed for %s: %s", feat.name, exc)
    return fdf, value_cols


def _feature_tables(
    b: _Build, labels_raw: DataFrame
) -> tuple[list[tuple[Feature, DataFrame, list[str]]], dict[str, tuple[DataFrame, Feature]]]:
    """Phase 4: load and validate every source, plan each source's
    duplicate check, and compute the feature tables.

    A source's duplicate (key, time) groups are counted inside the match
    window (pit_match_multi dup_track, no job of its own) when its first
    feature provably routes through that window as a row-preserving
    projection (union strategy, columns mode) with an orderable payload
    (the in-window adjacency argument needs the payload tie-break), and
    no store is attached. Every other source runs the standalone check
    here — one action, policy in declaration order — before any side
    effect, feature-cache writes included. Returns the
    ``(feature, table, value_cols)`` list and the in-window sources by
    feature name."""
    sources = _preload_sources(b.spark, b.features)
    standalone: list[tuple[DataFrame, Feature]] = []
    window_dups: dict[str, tuple[DataFrame, Feature]] = {}
    seen: set[tuple[str, tuple[str, ...], str]] = set()
    for feat in b.features:
        src_df = sources[feat.source.name]
        _validate_source_schema(src_df, feat, b.labels.keys)
        dup_key = (feat.source.name, tuple(feat.source_keys), feat.source.timestamp)
        if dup_key in seen:
            continue
        seen.add(dup_key)
        if (
            b.store is None
            and b.strategy == "union"
            and feat.mode == "columns"
            and _payload_orderable(src_df, list(feat._columns))
        ):
            window_dups[feat.name] = (src_df, feat)
        else:
            standalone.append((src_df, feat))
    if standalone:
        b.emit(f"Checking {len(standalone)} source(s) for duplicates")
        _batch_duplicate_checks(standalone)

    label_dtype = labels_raw.schema[b.labels.label_time].dataType
    tables: list[tuple[Feature, DataFrame, list[str]]] = []
    for i, feat in enumerate(b.features, 1):
        b.emit(f"Computing {feat.name} ({i}/{len(b.features)})")
        fdf, value_cols = _feature_table(b, feat, sources[feat.source.name])
        if value_cols:
            _validate_timezones(label_dtype, fdf, feat, labels_raw, b.labels.label_time)
        tables.append((feat, fdf, value_cols))
        b.transcript.append(b.invariant(feat))
    return tables, window_dups


@dataclass
class _Matched:
    """The match phase's output: the label rows with every feature's
    matched columns, plus what the later phases read back."""

    combined: DataFrame
    # feature name -> the DataFrame whose plan holds its as-of join
    # (BuildResult.physical_plans summarizes these on demand)
    plans: dict[str, DataFrame]
    # per union group: (Observation of dups_{i}, [(i, feature name)])
    dup_observations: list[tuple[Observation, list[tuple[int, str]]]]
    # tracked feature name -> Observation of its NULL-key/NULL-time rows
    null_observations: dict[str, Observation]
    transcript: str


def _match(
    spine: DataFrame,
    tables: Sequence[tuple[Feature, DataFrame, list[str]]],
    keys: list[str],
    label_time: str,
    *,
    lookback_s: int | None,
    staleness_s: int | None,
    strict: bool,
    zero_join: bool,
    strategy: str = "union",
    bucket_s: int | None = None,
    dup_track: Collection[str] = (),
    prefix: str = "",
    emit: Callable[[str], None] = lambda msg: None,
) -> _Matched:
    """Phase 5 (shared by build and the rebuild audit): match every
    feature table against the spine and recombine.

    Union features sharing an entity-key mapping resolve in ONE
    union/window pass per chunk of ``UNION_GROUP_MAX_FEATURES``
    (pit_match_multi): the spine and the feature tables shuffle once by
    key into a single Window operator. With ``zero_join`` the label row
    rides through that pass and nothing recombines; otherwise every group
    (or, for ``strategy='join'``, every feature's range join) is keyed on
    the spine's ROW_ID and left-joined back. Output columns are
    ``{prefix}{feature}__{col}``. Features named in ``dup_track`` count
    their duplicate (key, time) groups inside the window and observe the
    NULL-key/NULL-time rows of their table, which the window never sees."""
    plans: dict[str, DataFrame] = {}
    joined: list[DataFrame] = []
    groups: dict[tuple[tuple[str, str], ...], list] = {}
    for feat, fdf, value_cols in tables:
        key_pairs = tuple((k, feat.key_mapping.get(k, k)) for k in keys)
        if strategy == "union":
            groups.setdefault(key_pairs, []).append((feat, fdf, value_cols))
            continue
        emit(f"Joining {feat.name}")
        plans[feat.name] = pit_match(
            spine,
            fdf,
            key_pairs=list(key_pairs),
            label_time=label_time,
            value_cols=value_cols,
            prefix=prefix + feat.name,
            embargo_s=duration_seconds(feat.embargo) or 0,
            lookback_s=lookback_s,
            staleness_s=staleness_s,
            strict=strict,
            strategy=strategy,
        )
        joined.append(plans[feat.name])

    chunks = [
        (kp, group[i : i + UNION_GROUP_MAX_FEATURES])
        for kp, group in groups.items()
        for i in range(0, len(group), UNION_GROUP_MAX_FEATURES)
    ]
    dup_observations: list[tuple[Observation, list[tuple[int, str]]]] = []
    null_observations: dict[str, Observation] = {}
    for kp, chunk in chunks:
        emit("Joining " + ", ".join(feat.name for feat, _, _ in chunk) + " (single-pass)")
        specs = []
        track = [feat.name in dup_track for feat, _, _ in chunk]
        for (feat, fdf, value_cols), tracked_here in zip(chunk, track):
            if tracked_here:
                null_observations[feat.name] = Observation()
                fdf = fdf.observe(
                    null_observations[feat.name],
                    F.count(F.when(_null_key_or_time(feat, "feature_time"), 1)).alias("n"),
                )
            specs.append(
                (
                    prefix + feat.name,
                    fdf,
                    "feature_time",
                    value_cols,
                    duration_seconds(feat.embargo) or 0,
                )
            )
        dup_obs = Observation() if any(track) else None
        if dup_obs is not None:
            dup_observations.append(
                (dup_obs, [(fi, chunk[fi][0].name) for fi, t in enumerate(track) if t])
            )
        gout = pit_match_multi(
            spine,
            specs,
            key_pairs=list(kp),
            label_time=label_time,
            lookback_s=lookback_s,
            staleness_s=staleness_s,
            strict=strict,
            carry_left=zero_join,
            dup_track=track,
            dup_observation=dup_obs,
            bucket_s=bucket_s,
        )
        joined.append(gout)
        plans.update({feat.name: gout for feat, _, _ in chunk})

    if zero_join:
        combined = joined[0]
        line = "-- recombine: none (zero-join single-pass plan)"
    else:
        combined = spine
        for df in joined:
            combined = combined.join(df, ROW_ID, "left")
        line = (
            f"-- recombine: {len(joined)}-way left join on {ROW_ID} "
            f"({len(chunks)} single-pass union group(s))"
        )
    return _Matched(combined, plans, dup_observations, null_observations, line)


def _stats_aggs(
    b: _Build, tables: Sequence[tuple[Feature, DataFrame, list[str]]]
) -> tuple[list[F.Column], F.Column | None, list[str]]:
    """Everything a build reports, as ONE set of aggregates over the
    combined table: spine row count and label-time range (combined is 1:1
    with the spine), the output row count under on_missing, per-feature
    NULL counts (``n_{i}`` over the features with value columns), and the
    post-build temporal verification (``v_{feature}``, reference
    engine.py:1342-1384). Returns (aggs, on_missing='skip' row filter,
    output value columns)."""
    lt = F.col(b.labels.label_time)
    value_cols = [f"{feat.name}__{c}" for feat, _, vcols in tables for c in vcols]
    skip = None
    if b.on_missing == "skip":
        for c in value_cols:
            skip = F.col(c).isNotNull() if skip is None else skip & F.col(c).isNotNull()
    aggs = [
        F.count(F.lit(1)).alias("__n_labels"),
        F.min(lt).alias("__mn"),
        F.max(lt).alias("__mx"),
        F.count(F.when(skip, 1) if skip is not None else F.lit(1)).alias("__n_result"),
    ]
    firsts = [f"{feat.name}__{vcols[0]}" for feat, _, vcols in tables if vcols]
    for i, c in enumerate(firsts):
        missing = F.col(c).isNull() if skip is None else skip & F.col(c).isNull()
        aggs.append(F.count(F.when(missing, 1)).alias(f"n_{i}"))
    for feat, _, _ in tables:
        ft = F.col(f"{feat.name}__feature_time")
        embargo_s = duration_seconds(feat.embargo) or 0
        bound = lt - F.make_dt_interval(secs=F.lit(embargo_s)) if embargo_s else lt
        viol = (ft >= bound) if b.join == "strict" else (ft > bound)
        aggs.append(
            F.count(F.when(ft.isNotNull() & viol, 1)).alias(f"v_{safe_name(feat.name)}")
        )
    return aggs, skip, value_cols


def _apply_window_dup_policy(
    m: _Matched, window_dups: dict[str, tuple[DataFrame, Feature]]
) -> None:
    """on_duplicate for the sources counted inside the match window, once
    the build's action has run. Their NULL-key/NULL-time rows are
    aggregated only where the feature table's observation saw some (or
    is unavailable), so clean sources pay no job at all. Without the
    window counts (CollectMetrics optimized away in a degenerate plan)
    the standalone check applies the policy."""
    counts: dict[str, int] = {}
    for obs, tracked in m.dup_observations:
        vals = _observation_get(obs)
        if vals is None:
            logger.info(
                "in-window duplicate metrics unavailable; falling back to "
                "the standalone duplicate check"
            )
            _batch_duplicate_checks(list(window_dups.values()))
            return
        counts.update({name: int(vals.get(f"dups_{fi}") or 0) for fi, name in tracked})
    with_nulls = []
    for name in window_dups:
        vals = _observation_get(m.null_observations[name])
        if vals is None or vals["n"] > 0:
            with_nulls.append(name)
    null_counts = _batch_duplicate_checks([], [window_dups[n] for n in with_nulls])
    counts_null = dict(zip(with_nulls, null_counts))
    for name, (src_df, feat) in window_dups.items():
        _apply_dup_policy(src_df, feat, counts.get(name, 0) + counts_null.get(name, 0))


def _write_splits(b: _Build, result: DataFrame) -> dict[str, Path]:
    """Each split is a disjoint label_time filter over the committed
    output, read back with ``result``'s schema and column order and
    sorted like a single-file output; the writes run as concurrent Spark
    actions, so two splits cost about one write's wall clock."""
    written = (
        b.spark.read.schema(result.schema)
        .parquet(_abs(b.output))
        .select(*result.columns)
    )
    output_path = Path(str(b.output))
    lt = b.labels.label_time
    # label_time survives flatten unchanged: it never carries a prefix.
    ts_type = written.schema[lt].dataType

    def _write_split(item):
        split_name, (start, end) = item
        split_file = (
            output_path.parent
            / f"{output_path.stem}_{split_name}{output_path.suffix or '.parquet'}"
        )
        split_df = written.where(
            (F.col(lt) >= F.lit(start).cast(ts_type))
            & (F.col(lt) < F.lit(end).cast(ts_type))
        )
        _write_output(
            split_df.repartition(1).sortWithinPartitions(*b.labels.keys, lt),
            split_file,
        )
        return split_name, split_file

    with ThreadPoolExecutor(max_workers=min(4, len(b.splits))) as pool:
        return dict(pool.map(_write_split, b.splits.items()))


def _write_and_verify(
    b: _Build,
    m: _Matched,
    tables: Sequence[tuple[Feature, DataFrame, list[str]]],
    window_dups: dict[str, tuple[DataFrame, Feature]],
) -> tuple[DataFrame, dict[str, Any], dict[str, Path] | None]:
    """Phase 6: project and order the output, run the build's ONE action —
    the write into a staging path next to ``output`` with the stats
    observed on it, or the stats aggregation when ``output`` is None —
    then apply the in-window duplicate policy, and only then replace
    ``output`` and write the splits. A failure before the commit removes
    the staging path and leaves an earlier output untouched.

    Output order by ``(*keys, label_time)``: a single-file output is one
    partition sorted in the writing task, a directory output sorts each
    part file, and ``output=None`` returns a lazy ``orderBy``. None of
    them range-partitions, whose sampling pass would run the match (and
    every observation) twice unless the result were cached. Returns
    (result, stats, split paths)."""
    lt = b.labels.label_time
    part_cols = b.part_list or None
    aggs, skip, value_cols = _stats_aggs(b, tables)
    observation = Observation() if b.output is not None else None
    result = m.combined.observe(observation, *aggs) if observation else m.combined
    if skip is not None:
        result = result.where(skip)
    result = result.select(*b.labels.keys, lt, *b.labels.target, *value_cols)
    if b.flatten_columns:  # reference engine.py:1281-1304
        shorts = [c.split("__", 1)[1] if "__" in c else c for c in result.columns]
        if len(set(shorts)) == len(shorts):
            result = result.toDF(*shorts)
    b.emit("Writing output")
    if part_cols:
        if str(b.output or "").endswith((".parquet", ".pq")):
            raise TimefenceConfigError(
                "output_partition_by writes a partitioned parquet "
                "directory; pass a directory path for 'output', not a "
                f"'.parquet' file ({b.output})."
            )
        missing = [c for c in part_cols if c not in result.columns]
        if missing:
            raise TimefenceConfigError(
                f"output_partition_by columns not in output: {missing}. "
                f"Available: {result.columns}"
            )
    order = [*b.labels.keys, lt]
    if b.output is None:
        result = result.orderBy(*order)
    elif _single_file(b.output, part_cols):
        result = result.repartition(1).sortWithinPartitions(*order)
    else:
        # Leading partition columns satisfy the writer's required
        # ordering, so it adds no sort of its own over this one.
        result = result.sortWithinPartitions(*b.part_list, *order)
    b.emit("Verifying temporal correctness")
    staging = _staging_path(b.output) if b.output is not None else None
    try:
        stats = None
        if b.output is not None:
            _stage_output(result, b.output, staging, part_cols)
            stats = _observation_get(observation)
        if stats is None:
            # output=None, or the optimizer removed the CollectMetrics
            # node (degenerate builds, which are the cheap ones).
            stats = m.combined.agg(*aggs).first().asDict()
        _apply_window_dup_policy(m, window_dups)
    except BaseException:
        _remove_path(staging)
        raise
    if b.output is None:
        return result, stats, None
    _commit_output(staging, b.output, part_cols)
    return result, stats, _write_splits(b, result) if b.splits else None


def _build_result(
    b: _Build,
    result: DataFrame,
    stats_map: dict[str, Any],
    split_paths: dict[str, Path] | None,
    tables: Sequence[tuple[Feature, DataFrame, list[str]]],
    plans: dict[str, DataFrame],
) -> BuildResult:
    """Phase 7: stats, the manifest (saved to the store when one is
    attached) and the BuildResult."""
    lt = b.labels.label_time
    if b.splits:
        _warn_split_coverage(b.splits, stats_map["__mn"], stats_map["__mx"])
    label_count = int(stats_map["__n_labels"])
    result_count = int(stats_map["__n_result"])
    feature_stats: dict[str, dict[str, Any]] = {}
    for i, (feat, _, _) in enumerate(t for t in tables if t[2]):
        null_count = int(stats_map[f"n_{i}"])
        feature_stats[feat.name] = {
            "matched": result_count - null_count,
            "missing": null_count,
            "cached": b.feature_cached.get(feat.name, False),
        }
    audit_passed = all(
        int(stats_map[f"v_{safe_name(feat.name)}"] or 0) == 0 for feat, _, _ in tables
    )
    elapsed = time.time() - b.start_time
    column_count = len(result.columns)
    output_file_size = None
    if b.output is not None:
        p = Path(str(b.output))
        if p.is_file():
            output_file_size = p.stat().st_size
        elif p.is_dir():
            output_file_size = sum(f.stat().st_size for f in p.rglob("*") if f.is_file())

    manifest: dict[str, Any] = {
        "timefence_spark_version": __version__,
        "build_id": datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ"),
        "created_at": datetime.now(timezone.utc).isoformat(),
        "duration_seconds": elapsed,
        "labels": {
            "path": str(b.labels.path) if b.labels.path else None,
            "content_hash": _content_hash_safe(b.labels.path, b.store),
            "row_count": label_count,
            "time_range": (
                [str(stats_map["__mn"]), str(stats_map["__mx"])]
                if stats_map["__mn"] is not None
                else None
            ),
            "keys": b.labels.keys,
            "label_time_column": lt,
            "target_columns": b.labels.target,
        },
        "features": {
            feat.name: {
                "definition_hash": _definition_hash(feat),
                "source_content_hash": _content_hash_safe(feat.source.path, b.store),
                "embargo": format_duration(feat.embargo),
                "matched_rows": feature_stats.get(feat.name, {}).get("matched", 0),
                "missing_rows": feature_stats.get(feat.name, {}).get("missing", 0),
                "output_columns": value_cols,
                "strategy": b.strategy,
                "cached": b.feature_cached.get(feat.name, False),
            }
            for feat, _, value_cols in tables
        },
        "parameters": {
            "max_lookback": format_duration(b.lookback_td),
            "max_staleness": format_duration(b.staleness_td),
            "join": b.join,
            "on_missing": b.on_missing,
        },
        "output": {
            "path": str(b.output) if b.output else None,
            "content_hash": _content_hash_safe(
                Path(str(b.output)) if b.output else None, b.store
            ),
            "row_count": result_count,
            "column_count": column_count,
            "file_size_bytes": output_file_size,
        },
        "audit": {
            "passed": audit_passed,
            "invariant": (
                f"feature_time {'<' if b.join == 'strict' else '<='} "
                "label_time - embargo"
            ),
            "rows_checked": result_count,
        },
        "environment": {
            "python_version": _python_version(),
            "spark_version": b.spark.version,
            "os": "spark-local",
        },
    }
    if b.store is not None and b.feature_cache_keys:
        manifest["build_cache_key"] = b.cache_key(b.feature_cache_keys)
        manifest["manifest_path"] = str(b.store.save_build(manifest))

    spine_line = (
        f"-- spine: {label_count} label rows, keys={b.labels.keys}, label_time={lt}"
    )
    return BuildResult(
        output_path=str(b.output) if b.output else None,
        manifest=manifest,
        stats=BuildStats(
            row_count=result_count,
            column_count=column_count,
            feature_stats=feature_stats,
            duration_seconds=elapsed,
        ),
        splits=split_paths,
        sql="\n\n".join([spine_line, *b.transcript]),
        dataframe=result,
        matched=plans,
    )


def build(
    labels: Labels,
    features: Sequence[Feature | FeatureSet],
    output: str | Path | None = None,
    *,
    max_lookback: str | timedelta = DEFAULT_MAX_LOOKBACK,
    max_staleness: str | timedelta | None = None,
    join: str = "strict",
    on_missing: str = DEFAULT_ON_MISSING,
    splits: dict[str, tuple[str, str]] | None = None,
    store: Any = None,
    flatten_columns: bool = False,
    progress: Callable[[str], None] | None = None,
    spark: SparkSession | None = None,
    strategy: str = "auto",
    output_partition_by: str | Sequence[str] | None = None,
    skew_bucket: str | timedelta | None = None,
    checkpoint_dir: str | Path | None = None,
) -> BuildResult:
    """Build a point-in-time correct training set.

    Lifecycle parity with reference build() (engine.py:933-1500), as seven
    phases: validate args → store cache probe → load spine → sources,
    duplicate checks and feature tables → match → write, observe and
    verify → manifest. The output is written to a staging path next to
    ``output`` and renamed into place only after every check passed, so a
    failed build leaves an earlier output intact. Rows are ordered by
    ``(*keys, label_time)``: a ``.parquet``/``.pq`` output is one file
    sorted throughout (as are split files), a directory output is sorted
    within each part file only, and with ``output=None``
    ``BuildResult.dataframe`` is a lazy ``orderBy``. The build never
    changes the session's shuffle width. Spark extras: ``spark``
    (session), ``strategy`` ('auto' | 'join' | 'union' as-of plan
    selection; 'auto' is 'union', and 'join' broadcasts a feature table
    whose Catalyst size estimate is small), ``output_partition_by`` (write
    the output as a Hive-partitioned parquet directory keyed by these
    columns — the 100 TB output path: readers get partition pruning, and
    no single-file coalesce bottleneck; requires a directory-style
    ``output``, not a ``.parquet`` file path), ``skew_bucket`` (duration,
    e.g. "30d": split hot entity keys into time buckets of this width
    inside the union as-of plan, bounding any single sort partition — see
    operators/asof.pit_match_multi), ``checkpoint_dir`` (pin the spine's
    row ids to RELIABLE storage instead of executor-local blocks —
    survives executor loss on long cluster builds; see
    timefence_spark._checkpoint and docs/concepts/scale.md).
    """
    b = _validate_build_args(
        labels,
        features,
        output,
        spark,
        max_lookback=max_lookback,
        max_staleness=max_staleness,
        join=join,
        on_missing=on_missing,
        strategy=strategy,
        output_partition_by=output_partition_by,
        skew_bucket=skew_bucket,
        flatten_columns=flatten_columns,
        splits=splits,
        store=store,
        progress=progress,
    )
    cached = _cached_build(b)
    if cached is not None:
        return cached
    labels_raw, spine, zero_join = _load_spine(b, checkpoint_dir)
    tables, window_dups = _feature_tables(b, labels_raw)
    m = _match(
        spine,
        tables,
        b.labels.keys,
        b.labels.label_time,
        lookback_s=duration_seconds(b.lookback_td),
        staleness_s=duration_seconds(b.staleness_td),
        strict=b.join == "strict",
        zero_join=zero_join,
        strategy=b.strategy,
        bucket_s=b.skew_bucket_s,
        dup_track=window_dups,
        emit=b.emit,
    )
    b.transcript.append(m.transcript)
    result, stats_map, split_paths = _write_and_verify(b, m, tables, window_dups)
    return _build_result(b, result, stats_map, split_paths, tables, m.plans)


# ---------------------------------------------------------------------------
# Public API: audit (reference engine.py:1508-1872)
# ---------------------------------------------------------------------------


def _load_dataset_df(spark: SparkSession, data: str | Path | Any) -> DataFrame:
    if isinstance(data, (str, Path)):
        return read_parquet(spark, data)
    if isinstance(data, DataFrame):
        return data
    return spark.createDataFrame(data)


def audit(
    data: str | Path | Any,
    features: Sequence[Feature | FeatureSet] | None = None,
    *,
    keys: str | list[str] | None = None,
    label_time: str | None = None,
    feature_time_columns: dict[str, str] | None = None,
    max_lookback: str | timedelta = DEFAULT_MAX_LOOKBACK,
    max_staleness: str | timedelta | None = None,
    join: str = "strict",
    spark: SparkSession | None = None,
    checkpoint_dir: str | Path | None = None,
) -> AuditReport:
    """Audit a dataset for temporal leakage.

    Two modes (dispatch mirrors reference engine.py:1525-1546):
    1. Rebuild-and-compare: provide features, keys, label_time.
    2. Temporal check: provide feature_time_columns.

    ``checkpoint_dir`` pins the rebuild-compare row ids to reliable
    storage instead of executor-local blocks (see build()).
    """
    if feature_time_columns is not None:
        return _audit_temporal(
            data, feature_time_columns, label_time or "label_time", spark=spark
        )
    if features is None:
        raise TimefenceValidationError(
            "audit() requires either 'features' (for rebuild-and-compare) "
            "or 'feature_time_columns' (for temporal check)."
        )
    if keys is None or label_time is None:
        raise TimefenceValidationError(
            "audit() in rebuild-and-compare mode requires 'keys' and 'label_time'."
        )
    return _audit_rebuild(
        data,
        features,
        keys,
        label_time,
        max_lookback=max_lookback,
        max_staleness=max_staleness,
        join=join,
        spark=spark,
        checkpoint_dir=checkpoint_dir,
    )


def _audit_temporal_api(
    data: str | Path | Any,
    feature_time_columns: dict[str, str],
    label_time: str = "label_time",
    spark: SparkSession | None = None,
) -> AuditReport:
    """Lightweight temporal check mode (public API: audit.temporal)."""
    return _audit_temporal(data, feature_time_columns, label_time, spark=spark)


audit.temporal = _audit_temporal_api  # type: ignore[attr-defined]


def _leak_detail(
    name: str,
    leaky_count: int,
    total: int,
    max_us: int | None,
    med_us: float | None,
    leaky_rows: DataFrame,
) -> FeatureAuditDetail:
    """A LEAK verdict: magnitudes, severity and up to 1000 of the
    violating rows (the capture is best-effort)."""
    max_leak = timedelta(microseconds=int(max_us)) if max_us is not None else None
    med_leak = timedelta(microseconds=int(med_us)) if med_us is not None else None
    pct = leaky_count / total if total > 0 else 0.0
    rows = None
    try:
        rows = leaky_rows.limit(1000).toPandas()
    except Exception as exc:
        logger.debug("Could not capture leaky rows for %s: %s", name, exc)
    return FeatureAuditDetail(
        name=name,
        leaky_row_count=leaky_count,
        leaky_row_pct=pct,
        max_leakage=max_leak,
        median_leakage=med_leak,
        severity=classify_severity(pct, max_leak),
        total_rows=total,
        clean=False,
        leaky_rows=rows,
    )


def _audit_temporal(
    data: str | Path | Any,
    feature_time_columns: dict[str, str],
    label_time: str,
    spark: SparkSession | None = None,
) -> AuditReport:
    """Per-row check ``feature_time < label_time``: a single scan computing
    every feature's leak/null counts at once (the reference runs one query
    per feature, engine.py:1561-1632 — one pass is the 100 TB shape)."""
    spark = get_spark(spark)
    df = _load_dataset_df(spark, data)
    df = df.persist()
    try:
        items = list(feature_time_columns.items())
        lt_col = F.col(label_time)
        aggs: list[F.Column] = [F.count(F.lit(1)).alias("__total")]
        for i, (_, ft_name) in enumerate(items):
            ft = F.col(ft_name)
            leak = ft.isNotNull() & (ft >= lt_col)
            aggs.append(F.count(F.when(leak, 1)).alias(f"leak_{i}"))
            aggs.append(F.count(F.when(ft.isNull(), 1)).alias(f"null_{i}"))
            ft_dtype = df.schema[ft_name].dataType
            lt_dtype = df.schema[label_time].dataType
            diff_us = _epoch_us(ft, ft_dtype) - _epoch_us(lt_col, lt_dtype)
            leaked_diff = F.when(ft >= lt_col, diff_us)
            aggs.append(F.max(leaked_diff).alias(f"max_{i}"))
            # Exact median, matching DuckDB MEDIAN (SURVEY §7.3 trap 4).
            aggs.append(F.percentile(leaked_diff, F.lit(0.5)).alias(f"med_{i}"))
        row = df.agg(*aggs).first()
        total = int(row["__total"])

        report = AuditReport(total_rows=total, mode="temporal")
        for i, (feat_col, ft_name) in enumerate(items):
            leaky_count = int(row[f"leak_{i}"])
            if leaky_count > 0:
                report.features[feat_col] = _leak_detail(
                    feat_col,
                    leaky_count,
                    total,
                    row[f"max_{i}"],
                    row[f"med_{i}"],
                    df.where(F.col(ft_name) >= lt_col),
                )
            else:
                report.features[feat_col] = FeatureAuditDetail(
                    name=feat_col,
                    total_rows=total,
                    null_rows=int(row[f"null_{i}"]),
                    clean=True,
                )
        return report
    finally:
        df.unpersist()


def _audit_rebuild(
    data: str | Path | Any,
    features: Sequence[Feature | FeatureSet],
    keys: str | list[str],
    label_time: str,
    *,
    max_lookback: str | timedelta = DEFAULT_MAX_LOOKBACK,
    max_staleness: str | timedelta | None = None,
    join: str = "strict",
    spark: SparkSession | None = None,
    checkpoint_dir: str | Path | None = None,
) -> AuditReport:
    """Rebuild-and-compare: recompute every feature with the correct PIT join
    and diff values against the existing dataset (reference engine.py:1635-1872).

    The rebuild is the build's match phase (:func:`_match`), rebuilt
    columns prefixed ``__c_``: under one key mapping the existing rows
    ride through the union window (zero-join — no row id, no pin, no
    compare join); otherwise the rows are pinned with a row id and every
    group joins back on it. Every feature's stats compute in ONE
    aggregation over the comparison table."""
    spark = get_spark(spark)
    keys_list = [keys] if isinstance(keys, str) else list(keys)
    flat_features = flatten_features(features)
    max_lookback_td = parse_duration(max_lookback) or timedelta(
        days=DEFAULT_MAX_LOOKBACK_DAYS
    )
    max_staleness_td = parse_duration(max_staleness)

    existing = _load_dataset_df(spark, data)
    existing_cols = existing.columns
    lt_dtype = existing.schema[label_time].dataType
    registered = _preload_sources(spark, flat_features)
    audited: list[tuple[Feature, list[str], list[tuple[str, str]]]] = []
    tables: list[tuple[Feature, DataFrame, list[str]]] = []
    for feat in flat_features:
        fdf, value_cols = _compute_feature_df(spark, feat, registered[feat.source.name])
        matching_cols = []
        for col in value_cols:
            namespaced = f"{feat.name}__{col}"
            if namespaced in existing_cols:
                matching_cols.append((namespaced, f"__c_{namespaced}"))
            elif col in existing_cols:
                matching_cols.append((col, f"__c_{namespaced}"))
        if matching_cols:  # nothing to compare against -> not rebuilt
            audited.append((feat, value_cols, matching_cols))
            tables.append((feat, fdf, value_cols))

    zero_join = _zero_join([t[0] for t in tables], keys_list, "union")
    spine = existing
    if tables and not zero_join:
        spine = pin(
            existing.withColumn(ROW_ID, F.monotonically_increasing_id()),
            checkpoint_dir=_opt_str(checkpoint_dir),
            eager=True,
        )
    try:
        cmp = existing
        if tables:
            cmp = _match(
                spine,
                tables,
                keys_list,
                label_time,
                lookback_s=duration_seconds(max_lookback_td),
                staleness_s=duration_seconds(max_staleness_td),
                strict=(join == "strict"),
                zero_join=zero_join,
                prefix="__c_",
            ).combined
        cmp = cmp.persist()
        try:
            aggs: list[F.Column] = [F.count(F.lit(1)).alias("__total")]
            mismatch_by_feat: dict[str, dict[str, F.Column]] = {}
            diff_by_feat: dict[int, F.Column] = {}
            for fi, (feat, value_cols, matching_cols) in enumerate(audited):
                ft_name = f"__c_{feat.name}__feature_time"
                ft_dtype = cmp.schema[ft_name].dataType
                diff_us = _epoch_us(F.col(label_time), lt_dtype) - _epoch_us(
                    F.col(ft_name), ft_dtype
                )
                diff_by_feat[fi] = diff_us
                aggs.append(F.max(diff_us).alias(f"max_{fi}"))
                aggs.append(
                    F.count(
                        F.when(F.col(f"__c_{feat.name}__{value_cols[0]}").isNull(), 1)
                    ).alias(f"nulls_{fi}")
                )
                mismatch_exprs: dict[str, F.Column] = {}
                for j, (exist_col, correct_col) in enumerate(matching_cols):
                    e = F.col(exist_col)
                    c = F.col(correct_col)
                    if isinstance(
                        cmp.schema[exist_col].dataType, T.NumericType
                    ) and isinstance(cmp.schema[correct_col].dataType, T.NumericType):
                        # numpy.allclose-style: |a-b| > atol + rtol*|b|
                        bad = F.abs(e.cast("double") - c.cast("double")) > (
                            F.lit(DEFAULT_ATOL)
                            + F.lit(DEFAULT_RTOL) * F.abs(c.cast("double"))
                        )
                    else:
                        bad = e.cast("string") != c.cast("string")
                    mismatch = e.isNotNull() & c.isNotNull() & bad
                    mismatch_exprs[exist_col] = mismatch
                    aggs.append(F.count(F.when(mismatch, 1)).alias(f"bad_{fi}_{j}"))
                mismatch_by_feat[feat.name] = mismatch_exprs
            row = cmp.agg(*aggs).first()
            total = int(row["__total"])  # cmp is 1:1 with the dataset
            report = AuditReport(total_rows=total, mode="rebuild")
            rebuilt = {feat.name for feat, _, _ in audited}
            for feat in flat_features:
                if feat.name not in rebuilt:
                    report.features[feat.name] = FeatureAuditDetail(
                        name=feat.name, total_rows=total, clean=True
                    )
            for fi, (feat, value_cols, matching_cols) in enumerate(audited):
                leaky_count = 0
                worst: str | None = None
                for j, (exist_col, _) in enumerate(matching_cols):
                    n = int(row[f"bad_{fi}_{j}"])
                    if n > leaky_count:
                        leaky_count = n
                        worst = exist_col

                if leaky_count > 0:
                    # Exact median (DuckDB MEDIAN parity) requires a full
                    # sort of the lag column; defer it to the leaky path so
                    # a clean audit — the common case — never pays N
                    # column-sorts in the stats aggregation.
                    med_us = cmp.agg(
                        F.percentile(diff_by_feat[fi], F.lit(0.5)).alias("m")
                    ).first()["m"]
                    report.features[feat.name] = _leak_detail(
                        feat.name,
                        leaky_count,
                        total,
                        row[f"max_{fi}"],
                        med_us,
                        cmp.where(mismatch_by_feat[feat.name][worst]).select(
                            *existing_cols
                        ),
                    )
                else:
                    report.features[feat.name] = FeatureAuditDetail(
                        name=feat.name,
                        total_rows=total,
                        null_rows=int(row[f"nulls_{fi}"]),
                        clean=True,
                    )
        finally:
            cmp.unpersist()
        return report
    finally:
        # localCheckpoint blocks are freed on GC, not by unpersist().
        del spine


# ---------------------------------------------------------------------------
# Public API: explain (reference engine.py:1880-1964)
# ---------------------------------------------------------------------------


def explain(
    labels: Labels,
    features: Sequence[Feature | FeatureSet],
    *,
    max_lookback: str | timedelta = DEFAULT_MAX_LOOKBACK,
    max_staleness: str | timedelta | None = None,
    join: str = "strict",
    strategy: str = "auto",
    spark: SparkSession | None = None,
) -> ExplainResult:
    """Preview the join plan without executing it. ``strategy`` mirrors
    build(): the per-feature plan shows the strategy build() would choose."""
    strategy_desc = {
        "union": (
            "union-asof (single pass, no fanout; same-key features share "
            "one shuffle + Window via pit_match_multi)"
        ),
        "join": "range join + per-label max (broadcast when feature is small)",
    }[resolve_strategy(strategy)]
    spark = get_spark(spark)
    max_lookback_td = parse_duration(max_lookback) or timedelta(
        days=DEFAULT_MAX_LOOKBACK_DAYS
    )
    flat_features = flatten_features(features)

    label_count = load_labels_df(spark, labels).count()
    result = ExplainResult(label_count=label_count)
    op = "<" if join == "strict" else "<="

    for feat in flat_features:
        embargo_str = format_duration(feat.embargo) or "none"
        lookback_str = format_duration(max_lookback_td)
        has_embargo = feat.embargo.total_seconds() > 0
        if has_embargo:
            join_cond = f"feature_time {op} label_time - INTERVAL '{embargo_str}'"
            window = f"[label_time - {lookback_str}, label_time - {embargo_str})"
        else:
            join_cond = f"feature_time {op} label_time"
            window = f"[label_time - {lookback_str}, label_time)"

        source_ref = str(feat.source.path) if feat.source.path else feat.source.name
        if feat.mode == "columns":
            cols = ", ".join(feat._columns.values())
            ts = feat.source.timestamp
            key_col = feat.source_keys[0]
            embargo_clause = f" - INTERVAL '{embargo_str}'" if has_embargo else ""
            example = (
                f"SELECT {key_col}, {ts} AS feature_time, {cols}\n"
                f"FROM '{source_ref}'\n"
                f"WHERE {key_col} = {{K}}\n"
                f"  AND {ts} {op} {{T}}{embargo_clause}\n"
                f"  AND {ts} >= {{T}} - INTERVAL '{lookback_str}'\n"
                f"ORDER BY {ts} DESC\nLIMIT 1"
            )
        elif feat.mode == "sql":
            example = (
                f"WITH feature AS (\n  {feat._sql_text.strip()}\n)\n"  # type: ignore[union-attr]
                "SELECT * FROM feature\n..."
            )
        else:
            example = f"-- Python transform: {feat._transform.__name__}"  # type: ignore[union-attr]

        result.plan.append(
            {
                "name": feat.name,
                "source": source_ref,
                "join_condition": join_cond,
                "window": window,
                "embargo_str": embargo_str if has_embargo else "none",
                "strategy": strategy_desc,
                "sql": example,
            }
        )
    return result


# ---------------------------------------------------------------------------
# Public API: diff (reference engine.py:1972-2088)
# ---------------------------------------------------------------------------


def diff(
    old: str | Path,
    new: str | Path,
    *,
    keys: str | list[str],
    label_time: str,
    atol: float = DEFAULT_ATOL,
    rtol: float = DEFAULT_RTOL,
    spark: SparkSession | None = None,
) -> DiffResult:
    """Compare two training datasets: schema changes + per-column value
    changes with numeric tolerance. One aggregation pass computes every
    column's change counts (the reference runs ~3 queries per column)."""
    spark = get_spark(spark)
    keys_list = [keys] if isinstance(keys, str) else list(keys)

    old_df = read_parquet(spark, old).alias("o")
    new_df = read_parquet(spark, new).alias("n")
    old_count = old_df.count()
    new_count = new_df.count()

    old_cols = set(old_df.columns)
    new_cols = set(new_df.columns)
    result = DiffResult(old_rows=old_count, new_rows=new_count)

    meta_cols = set(keys_list) | {label_time}
    for col in sorted(new_cols - old_cols):
        result.schema_changes.append({"type": "+", "column": col, "detail": "(new column)"})
    for col in sorted(old_cols - new_cols):
        result.schema_changes.append({"type": "-", "column": col, "detail": "(removed)"})
    common = sorted((old_cols & new_cols) - meta_cols)

    join_cond = None
    for k in [*keys_list, label_time]:
        c = F.col(f"o.{k}") == F.col(f"n.{k}")
        join_cond = c if join_cond is None else (join_cond & c)
    joined = old_df.join(new_df, join_cond, "inner").persist()

    try:
        numeric: dict[str, bool] = {}
        aggs: list[F.Column] = []
        for j, col in enumerate(common):
            o = F.col(f"o.{col}")
            n = F.col(f"n.{col}")
            is_num = isinstance(
                old_df.schema[col].dataType, T.NumericType
            ) and isinstance(new_df.schema[col].dataType, T.NumericType)
            numeric[col] = is_num
            if is_num:
                changed = (
                    o.isNotNull()
                    & n.isNotNull()
                    & (
                        F.abs(o.cast("double") - n.cast("double"))
                        > F.lit(atol) + F.lit(rtol) * F.abs(n.cast("double"))
                    )
                ) | (o.isNull() != n.isNull())
            else:
                changed = ~o.eqNullSafe(n)
            aggs.append(F.count(F.when(changed, 1)).alias(f"chg_{j}"))
            if is_num:
                delta = F.when(~o.eqNullSafe(n), n.cast("double") - o.cast("double"))
                aggs.append(F.avg(delta).alias(f"avg_{j}"))
                aggs.append(F.max(F.abs(delta)).alias(f"max_{j}"))
        # Matched-row count rides in the same aggregation — the percentage
        # denominator must be the rows the comparison actually saw (the
        # inner join), not min(old, new): datasets sharing few keys would
        # otherwise understate the denominator and overstate every pct.
        if aggs:
            aggs.append(F.count(F.lit(1)).alias("__matched"))
        row = joined.agg(*aggs).first() if aggs else None
        matched_count = int(row["__matched"]) if row is not None else 0
        result.matched_rows = matched_count

        for j, col in enumerate(common):
            changed = int(row[f"chg_{j}"]) if row is not None else 0
            if changed > 0:
                pct = changed / matched_count if matched_count > 0 else 0.0
                entry: dict[str, Any] = {"changed_count": changed, "changed_pct": pct}
                if numeric[col] and row[f"avg_{j}"] is not None:
                    entry["mean_delta"] = float(row[f"avg_{j}"])
                    entry["max_delta"] = float(row[f"max_{j}"])
                result.value_changes[col] = entry
                result.schema_changes.append(
                    {
                        "type": "~",
                        "column": col,
                        "detail": f"{changed} values changed ({pct:.1%})",
                    }
                )
            else:
                result.schema_changes.append(
                    {"type": "=", "column": col, "detail": "unchanged"}
                )
        return result
    finally:
        joined.unpersist()
