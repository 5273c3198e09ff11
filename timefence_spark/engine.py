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
  row id against recomputation — eviction-proof, unlike a cache) and a
  persist() of the final result (one materialization serving write + count
  + stats, the reference's deliberate perf fix, CHANGELOG.md:46).
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import time
import uuid
import warnings
from collections.abc import Sequence
from datetime import datetime, timedelta, timezone
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
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
    from concurrent.futures import ThreadPoolExecutor

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


def _write_single_parquet(df: DataFrame, path: Path) -> None:
    """Write a DataFrame as ONE parquet file at `path` (reference UX parity:
    COPY TO writes a single file, engine.py:1312-1317). Only sensible at
    driver scale — directory outputs are the 100 TB path."""
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp_dir = path.parent / f".{path.name}.tmp-{uuid.uuid4().hex[:8]}"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_dir))
    parts = glob.glob(str(tmp_dir / "part-*.parquet"))
    if not parts:
        raise TimefenceValidationError(f"No parquet part written under {tmp_dir}")
    if path.exists():
        path.unlink()
    shutil.move(parts[0], str(path))
    shutil.rmtree(tmp_dir, ignore_errors=True)


def _write_output(
    df: DataFrame,
    output: str | Path,
    partition_by: Sequence[str] | None = None,
) -> None:
    out = _abs(output)
    if partition_by:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(out)
    elif out.endswith(".parquet") or out.endswith(".pq"):
        _write_single_parquet(df, Path(out))
    else:
        df.write.mode("overwrite").parquet(out)


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
    import sys

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
    warnings.warn(
        f"Feature '{feat.name}' has {dup_pairs} duplicate "
        f"(key, feature_time) pairs. Using on_duplicate='keep_any' — "
        "one row will be selected deterministically (max payload).",
        stacklevel=3,
    )


def _observation_get(obs: Any, timeout_s: float) -> dict | None:
    """``Observation.get`` that cannot wedge the build: once the
    observed plan's first action completes Spark resolves every
    registered observation (raising when its CollectMetrics node was
    optimized away), so post-action this returns promptly — the timeout
    thread is a belt-and-suspenders guard for an unresolved promise.
    Returns the metrics dict, or None when unavailable (caller falls
    back to the standalone check)."""
    import threading

    box: dict[str, Any] = {}

    def _get() -> None:
        try:
            box["v"] = obs.get
        except Exception as exc:  # optimized-away node -> standalone path
            box["e"] = exc

    t = threading.Thread(target=_get, daemon=True)
    t.start()
    t.join(timeout_s)
    return box.get("v")


def _null_subset(src_df: DataFrame, feat: Feature) -> DataFrame:
    """The rows the union window plan excludes: NULL in any key or the
    timestamp. Parquet NULL statistics prune the scan to footer reads
    when the columns are NULL-free, so this subset check is near-free
    on clean data."""
    cond = F.col(feat.source.timestamp).isNull()
    for k in feat.source_keys:
        cond = cond | F.col(k).isNull()
    return src_df.where(cond)


def _batch_duplicate_checks(
    checks: list[tuple[str, DataFrame, Feature]],
    null_subset_checks: list[tuple[str, DataFrame, Feature]] = (),
) -> dict[str, int]:
    """Run every source's duplicate check as ONE Spark action.

    A 10-feature build used to pay 10 sequential aggregation jobs here
    (~0.5-1 s of job overhead each at 1M-label scale); unioning the
    per-source aggregates into a single action runs the scans in parallel
    and pays the overhead once. Shuffle volume is unchanged —
    O(distinct (key, ts)) per source, map-side combined.

    ``checks`` get the full aggregation with the on_duplicate policy
    applied immediately. ``null_subset_checks`` are sources whose main
    duplicate count rides the build's window pass (pit_match_multi
    dup_track); only their NULL-key/NULL-time rows — which that pass
    cannot see — are aggregated here, and their policy is applied later
    by the engine once the window metrics land. Returns
    {tag: null_subset_dup_pairs}."""
    from functools import reduce

    branches = [
        _dup_check_agg(src_df, feat).select(
            F.lit(tag).alias("tag"), "dup_pairs"
        )
        for tag, src_df, feat in checks
    ]
    if null_subset_checks:
        # The NULL subsets are ~0 rows by construction (parquet NULL
        # stats prune clean sources to footer reads), so the cost here
        # is pure stage-scheduling overhead — a per-source agg branch
        # like the full checks above turns into ~2 AQE stages per
        # source. Instead every source's NULL rows union into ONE
        # stream, carrying its (keys, ts) group as a per-source struct
        # column (structs keep exact type semantics; other sources'
        # rows are NULL there, so cross-source rows can never collide),
        # and one two-stage aggregation covers all sources.
        sides = []
        for tag, src_df, feat in null_subset_checks:
            key_ts = [*feat.source_keys, feat.source.timestamp]
            sides.append(
                _null_subset(src_df, feat).select(
                    F.lit(tag).alias("tag"),
                    F.struct(*key_ts).alias(f"__g_{tag}"),
                )
            )
        unioned = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), sides
        )
        group_cols = [f"__g_{tag}" for tag, _, _ in null_subset_checks]
        grouped = unioned.groupBy("tag", *group_cols).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        branches.append(
            grouped.groupBy("tag").agg(
                F.count(F.when(F.col("cnt") > 1, F.lit(1))).alias("dup_pairs"),
            )
        )
    if not branches:
        return {}
    rows = reduce(lambda a, b: a.unionByName(b), branches).collect()
    dup_pairs = {r["tag"]: int(r["dup_pairs"] or 0) for r in rows}
    for tag, src_df, feat in checks:
        _apply_dup_policy(src_df, feat, dup_pairs[tag])
    # A source with zero NULL rows contributes no group row at all.
    return {tag: dup_pairs.get(tag, 0) for tag, _, _ in null_subset_checks}


def _validate_splits(
    splits: dict[str, tuple[str, str]], labels_df: DataFrame, label_time_col: str
) -> None:
    """Overlap = error; gaps and non-coverage = warnings
    (reference engine.py:630-675)."""
    sorted_splits = sorted(splits.items(), key=lambda x: x[1][0])
    for i in range(len(sorted_splits) - 1):
        name_a, (_, end_a) = sorted_splits[i]
        name_b, (start_b, _) = sorted_splits[i + 1]
        if end_a > start_b:
            raise TimefenceConfigError(
                f"Split ranges overlap: '{name_a}' ends at {end_a} "
                f"but '{name_b}' starts at {start_b}."
            )
        if end_a < start_b:
            warnings.warn(
                f"Gap between splits '{name_a}' (ends {end_a}) and '{name_b}' "
                f"(starts {start_b}). Labels in this range will not appear in any split.",
                stacklevel=3,
            )
    row = labels_df.agg(
        F.min(label_time_col).alias("mn"), F.max(label_time_col).alias("mx")
    ).first()
    if row and row["mn"] is not None and sorted_splits:
        first_start = sorted_splits[0][1][0]
        last_end = sorted_splits[-1][1][1]
        min_label = str(row["mn"])[:19]
        max_label = str(row["mx"])[:19]
        if first_start > min_label:
            warnings.warn(
                f"Splits start at {first_start} but labels start at {min_label}.",
                stacklevel=3,
            )
        if last_end < max_label:
            warnings.warn(
                f"Splits end at {last_end} but labels extend to {max_label}.",
                stacklevel=3,
            )


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
# Public API: build
# ---------------------------------------------------------------------------


_TUNE_BYTES_PER_PARTITION = 4 * 1024 * 1024
_TUNE_MIN_PARTITIONS = 4
# Scale-adaptive RAISE direction (round 14, VERDICT r13 item 8, guide
# §2.2/§5): one shuffle partition per this many bytes of on-disk input
# when the session width would leave sort partitions fatter than
# execution memory. Packed numeric parquet expands ~4-6x when
# deserialized into union/window sort rows, so the 3.1 GB 10M x 10
# input through 32 partitions put ~850 MB per sort task against ~300 MB
# of execution memory — the window stage spilled 34 GB per build
# (measured; 64 partitions still spill ~34 GB, 256 spill ZERO).
#
# DEFAULT OFF (0 = disabled): on the bench host the spill lands in page
# cache and costs almost nothing, while the 8x reduce-task count costs
# a measured 10-20% of wall — a raise default would regress the local
# bench to buy nothing locally. On clusters whose shuffle/spill media
# are real disks, set TIMEFENCE_SHUFFLE_INPUT_BYTES_PER_PARTITION to
# (input bytes x ~5 deserialization expansion / per-task execution
# memory); ~12-16 MB reproduces the zero-spill 256-partition shape for
# the 10M x 10 build. The cap bounds scheduler overhead either way.
_TUNE_RAISE_BYTES_PER_PARTITION = int(
    os.environ.get("TIMEFENCE_SHUFFLE_INPUT_BYTES_PER_PARTITION", 0)
)
_TUNE_MAX_PARTITIONS = 2048


def _tuned_shuffle_partitions(
    spark: SparkSession, labels: Labels, flat_features: Sequence[Feature]
) -> int | None:
    """Shuffle width scaled to the build's on-disk input bytes, or None
    when any input is DataFrame-backed (sizing it would cost a job) or
    sizing fails. A driver-side Hadoop listing only — no Spark job.

    Two directions, both derived from input size rather than a constant
    tuned to any one host (the 100 TB rule: partitioning must follow the
    data): tiny builds SHRINK to one partition per ~4 MB (floor 4) so a
    100k-label build stops paying ~32 near-empty sort tasks per stage;
    big builds RAISE (cap 2048) so the union/window sort partitions fit
    execution memory instead of spilling — opt-in via
    TIMEFENCE_SHUFFLE_INPUT_BYTES_PER_PARTITION because on the local
    bench host spill is page-cache-absorbed while the extra reduce
    tasks cost real wall (see _TUNE_RAISE_BYTES_PER_PARTITION). AQE's
    partition coalescing still merges post-shuffle partitions that come
    out small, so an overshooting raise estimate is self-correcting."""
    paths = [labels.path] + [f.source.path for f in flat_features]
    if any(p is None for p in paths):
        return None
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        total = 0
        for p in paths:
            jp = jvm.org.apache.hadoop.fs.Path(str(p))
            total += jp.getFileSystem(hconf).getContentSummary(jp).getLength()
    except Exception:
        return None
    shrink = max(
        _TUNE_MIN_PARTITIONS,
        int(total // _TUNE_BYTES_PER_PARTITION) + 1,
    )
    current_s = spark.conf.get("spark.sql.shuffle.partitions")
    if not current_s.isdigit():
        return shrink  # caller applies it only when it differs
    current = int(current_s)
    if shrink < current:
        return shrink
    if _TUNE_RAISE_BYTES_PER_PARTITION > 0:
        raise_to = min(
            _TUNE_MAX_PARTITIONS,
            int(total // _TUNE_RAISE_BYTES_PER_PARTITION) + 1,
        )
        if raise_to > current:
            return raise_to
    return None


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

    Lifecycle parity with reference build() (engine.py:933-1500); Spark
    extras: ``spark`` (session), ``strategy`` ('auto' | 'join' | 'union'
    as-of plan selection; 'auto' is 'union', and 'join' broadcasts a
    feature table whose Catalyst size estimate is small),
    ``output_partition_by`` (write the output as a Hive-partitioned
    parquet directory keyed by these columns — the 100 TB output path:
    readers get partition pruning, and no single-file coalesce bottleneck;
    requires a directory-style ``output``, not a ``.parquet`` file path),
    ``skew_bucket`` (duration, e.g. "30d": split hot entity keys into time
    buckets of this width inside the union as-of plan, bounding any single
    sort partition — see operators/asof.pit_match_multi),
    ``checkpoint_dir`` (pin the spine's row ids to RELIABLE storage instead
    of executor-local blocks — survives executor loss on long cluster
    builds; see timefence_spark._checkpoint and docs/concepts/scale.md).
    """
    start_time = time.time()
    strategy = resolve_strategy(strategy)
    spark = get_spark(spark)

    def _emit(msg: str) -> None:
        if progress is not None:
            progress(msg)

    max_lookback_td = parse_duration(max_lookback) or timedelta(
        days=DEFAULT_MAX_LOOKBACK_DAYS
    )
    max_staleness_td = parse_duration(max_staleness)

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

    flat_features = flatten_features(features)
    _validate_feature_names(flat_features)

    for feat in flat_features:
        if feat.embargo >= max_lookback_td:
            raise config_error_embargo_lookback(
                format_duration(feat.embargo) or "0d",
                format_duration(max_lookback_td) or DEFAULT_MAX_LOOKBACK,
            )
        if max_staleness_td is not None and max_staleness_td <= feat.embargo:
            raise TimefenceConfigError(
                f"max_staleness ({format_duration(max_staleness_td)}) must be greater "
                f"than embargo ({format_duration(feat.embargo)}) for feature '{feat.name}'."
            )

    part_list = (
        [output_partition_by]
        if isinstance(output_partition_by, str)
        else list(output_partition_by or [])
    )
    output_spec = (
        f"{_abs(str(output))}:{sorted(part_list)}:{flatten_columns}"
        if output is not None
        else ""
    )

    # Build-level cache probe (reference engine.py:1017-1057)
    if store is not None and output is not None:
        label_hash = _content_hash_safe(labels.path, store)
        feat_cache_keys = [
            store.feature_cache_key(
                _definition_hash(feat),
                _content_hash_safe(feat.source.path, store),
                format_duration(feat.embargo),
            )
            for feat in flat_features
        ]
        bck = store.build_cache_key(
            label_hash,
            feat_cache_keys,
            format_duration(max_lookback_td),
            format_duration(max_staleness_td),
            join,
            on_missing,
            output_spec,
        )
        cached_build = store.find_cached_build(bck)
        if cached_build is not None:
            elapsed = time.time() - start_time
            cached_build["duration_seconds"] = elapsed
            return BuildResult(
                output_path=cached_build.get("output", {}).get("path"),
                manifest=cached_build,
                stats=BuildStats(
                    row_count=cached_build.get("output", {}).get("row_count", 0),
                    column_count=cached_build.get("output", {}).get("column_count", 0),
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

    transcript: list[str] = []
    lt = labels.label_time

    # ---- Step 1: labels -> spine with pinned row id --------------------
    _emit("Loading labels")
    labels_raw = load_labels_df(spark, labels)
    label_cols = labels_raw.columns
    for key in labels.keys:
        if key not in label_cols:
            raise TimefenceSchemaError(
                f"Labels missing key column '{key}'.\n  Available: {label_cols}"
            )
    if lt not in label_cols:
        raise TimefenceSchemaError(
            f"Labels missing label_time column '{lt}'.\n  Available: {label_cols}"
        )

    # Physical spine plan, decided up front: when EVERY feature resolves
    # through the union strategy under ONE shared key mapping (the common
    # case), the label row rides through the single-pass window itself
    # (pit_match_multi carry_left) — no row id, no checkpoint, and no
    # recombination join exist at all, so there is nothing to pin.
    key_mappings = {
        tuple((lk, f.key_mapping.get(lk, lk)) for lk in labels.keys)
        for f in flat_features
    }
    zero_join = (
        bool(flat_features)
        and strategy == "union"
        and len(key_mappings) == 1
        and len(flat_features) <= UNION_GROUP_MAX_FEATURES
    )
    if zero_join:
        spine = labels_raw
    else:
        spine = labels_raw.withColumn(ROW_ID, F.monotonically_increasing_id())
        # localCheckpoint pins the row id by materializing the partitions
        # and TRUNCATING lineage: monotonically_increasing_id is otherwise
        # recomputed per action and unstable (SURVEY §7.3 trap 2). persist()
        # alone is not enough at scale — cache eviction under memory
        # pressure or an executor loss silently recomputes the ids
        # mid-build, which can reassign them between the matched-feature
        # tables and the rowid-keyed recombination join (reference
        # engine.py:1087-1090, 1231-1257 relies on stable ids the same
        # way). With a checkpoint there is no lineage to recompute from:
        # downstream stages read the materialized blocks or fail fast.
        # Blocks are freed when the DataFrame is GC'd. checkpoint_dir
        # upgrades the pin to reliable storage (executor-loss-proof).
        spine = pin(spine, checkpoint_dir=_opt_str(checkpoint_dir), eager=True)
    # Label count and time range are NOT probed here: every build path
    # keeps the spine 1:1 in the combined table (carry_left emits one row
    # per label row; the recombination joins are left joins on a unique
    # row id), so they ride in the single post-write aggregation over the
    # persisted combined table (step 5/6) instead of paying a dedicated
    # Spark job per build — and the manifest stats then describe the SAME
    # materialization the output was written from, which also holds for
    # nondeterministically-derived in-memory label DataFrames.
    spine_transcript_idx = len(transcript)
    transcript.append("")  # filled with the spine stats line after the agg

    label_dtype = spine.schema[lt].dataType

    if splits:
        _validate_splits(splits, spine, lt)

    saved_shuffle_conf: str | None = None
    try:
        # ---- Shuffle-partition auto-tuning for small inputs ------------
        # (VERDICT r9 item 7) A 100k-label build through 32 shuffle
        # partitions pays ~32 near-empty sort/write tasks per stage —
        # pure scheduling overhead at tiny scale. When every input is a
        # sizeable file path, scale the build's shuffle width to the
        # bytes actually read (one partition per ~4 MB of parquet,
        # floor 4) and restore the session conf afterwards. Inputs past
        # the session's configured width, or any DataFrame-backed
        # source (unsized without a job), leave the conf untouched.
        # Measured at local[32]: 100k_x1 1.36->1.03s, 100k_x10
        # 4.5->3.7s, 1m_x1 2.7->2.4s, 1m_x10+ unchanged (capped).
        #
        # SCOPE (ADVICE r10): spark.sql.shuffle.partitions is session
        # state, so the override is visible to ANY query planned on this
        # SparkSession while the build runs, and two interleaved builds
        # on one session could restore each other's value out of order.
        # builds are assumed one-at-a-time per SparkSession (the engine
        # holds no other session-wide conf); run concurrent builds on
        # separate sessions (spark.newSession() gives an isolated conf
        # with a shared SparkContext). The transcript line below makes
        # the override auditable per build.
        tuned = _tuned_shuffle_partitions(spark, labels, flat_features)
        if tuned is not None:
            current = spark.conf.get("spark.sql.shuffle.partitions")
            if current.isdigit() and tuned != int(current):
                saved_shuffle_conf = current
                spark.conf.set("spark.sql.shuffle.partitions", str(tuned))
                transcript.append(
                    f"-- shuffle partitions tuned {current} -> {tuned} "
                    "(input-bytes-derived: shrink for tiny builds, raise "
                    "for sort-spill avoidance on big ones; session-wide "
                    "conf for this build's duration; restored after "
                    "build — one build per SparkSession; use "
                    "spark.newSession() for concurrent builds)"
                )

        # ---- Step 2: sources + feature tables --------------------------
        registered_sources: dict[str, DataFrame] = {}
        feature_tables: dict[str, tuple[DataFrame, list[str]]] = {}
        feature_cache_keys: list[str] = []
        feature_cache_status: dict[str, bool] = {}
        dup_checked: set[tuple[str, tuple[str, ...], str]] = set()

        # Pre-pass: load + validate every source, then run ALL duplicate
        # checks as one batched Spark action (see _batch_duplicate_checks)
        # — still before any materialization, so bad sources fail fast.
        # Thread-safe sources load in parallel (see _preload_sources);
        # validation stays on the main thread, in declaration order, so
        # error messages are deterministic.
        from concurrent.futures import ThreadPoolExecutor

        registered_sources.update(_preload_sources(spark, flat_features))
        pending_checks: list[tuple[str, DataFrame, Feature]] = []
        null_subset_checks: list[tuple[str, DataFrame, Feature]] = []
        # Sources whose duplicate count rides the build's window pass
        # (pit_match_multi dup_track): designated feature name ->
        # (null-subset tag, source df, feature). Eligibility = the
        # feature provably routes through pit_match_multi (build-level
        # union strategy) as a row-preserving projection of its source
        # (columns mode) with an orderable payload (the in-window
        # adjacency argument needs the payload tie-break columns in the
        # sort), and no store is attached (feature-cache writes must keep
        # the classic check-then-materialize ordering).
        window_dup_feats: dict[str, tuple[str, DataFrame, Feature]] = {}
        null_dup_results: dict[str, int] = {}
        for feat in flat_features:
            src_name = feat.source.name
            if src_name not in registered_sources:
                registered_sources[src_name] = load_source_df(spark, feat.source)
            _validate_source_schema(registered_sources[src_name], feat, labels.keys)
            dup_key = (src_name, tuple(feat.source_keys), feat.source.timestamp)
            if dup_key not in dup_checked:
                dup_checked.add(dup_key)
                src_df = registered_sources[src_name]
                in_window = (
                    store is None
                    and strategy == "union"
                    and feat.mode == "columns"
                    and _payload_orderable(src_df, list(feat._columns))
                )
                if in_window:
                    tag = f"n{len(null_subset_checks)}"
                    null_subset_checks.append((tag, src_df, feat))
                    window_dup_feats[feat.name] = (tag, src_df, feat)
                else:
                    pending_checks.append(
                        (f"c{len(pending_checks)}", src_df, feat)
                    )

        # The duplicate-check action runs on a BACKGROUND thread while the
        # main thread builds feature tables and join plans (driver-side
        # Catalyst work): the collect costs ~1s of the ~5s total at the
        # 100K-label scale, and nothing before the first materialization
        # needs its result. _resolve_dup_checks() joins the thread — and
        # raises any TimefenceDuplicateError — before any side effect
        # (feature-cache write, output write), so the fail-fast contract
        # is ordering-identical where it matters.
        dup_future = None
        dup_pool = None
        if pending_checks or null_subset_checks:
            _emit(
                f"Checking {len(pending_checks)} source(s) for duplicates"
                + (
                    f" ({len(null_subset_checks)} in-window, NULL subset only)"
                    if null_subset_checks
                    else ""
                )
            )
            dup_pool = ThreadPoolExecutor(max_workers=1)
            dup_future = dup_pool.submit(
                _batch_duplicate_checks, pending_checks, null_subset_checks
            )

        def _resolve_dup_checks() -> None:
            nonlocal dup_future
            if dup_future is not None:
                fut, dup_future = dup_future, None
                try:
                    null_dup_results.update(fut.result())
                finally:
                    dup_pool.shutdown(wait=False)

        if store is not None:
            # Feature-cache writes below are materializations; keep the
            # classic strict ordering when a store is attached.
            _resolve_dup_checks()

        for i, feat in enumerate(flat_features, 1):
            _emit(f"Computing {feat.name} ({i}/{len(flat_features)})")
            src_df = registered_sources[feat.source.name]

            cached = False
            fck = None
            if store is not None:
                src_hash = _content_hash_safe(feat.source.path, store)
                fck = store.feature_cache_key(
                    _definition_hash(feat), src_hash, format_duration(feat.embargo)
                )
                feature_cache_keys.append(fck)
                if store.has_feature_cache(feat.name, fck):
                    cache_path = store.feature_cache_path(feat.name, fck)
                    fdf = spark.read.parquet(_abs(cache_path))
                    value_cols = [
                        c
                        for c in fdf.columns
                        if c != "feature_time" and c not in feat.source_keys
                    ]
                    feature_tables[feat.name] = (fdf, value_cols)
                    cached = True
                    feature_cache_status[feat.name] = True

            if not cached:
                feature_cache_status[feat.name] = False
                fdf, value_cols = _compute_feature_df(spark, feat, src_df)
                if store is not None and fck is not None:
                    cache_path = store.feature_cache_path(feat.name, fck)
                    try:
                        fdf.write.mode("overwrite").parquet(_abs(cache_path))
                        fdf = spark.read.parquet(_abs(cache_path))
                    except Exception as exc:  # cache write is best-effort
                        logger.warning(
                            "Feature cache write failed for %s: %s", feat.name, exc
                        )
                feature_tables[feat.name] = (fdf, value_cols)

            if feature_tables[feat.name][1]:
                _validate_timezones(
                    label_dtype, feature_tables[feat.name][0], feat, labels_raw, lt
                )

        # ---- Step 3: point-in-time joins -------------------------------
        # Union-strategy features that share an entity-key mapping resolve
        # in ONE union/window pass (pit_match_multi): the spine and every
        # feature table shuffle once by key into a single Window operator,
        # instead of one spine shuffle + window + recombination join per
        # feature (skew buckets included). Only the join strategy keeps the
        # per-feature path.
        matched: dict[str, DataFrame] = {}
        physical_plans: dict[str, str] = {}
        # Plan probes (physical_summary → manifest) force a full Catalyst
        # physical planning of each join output — ~0.5-1s of driver time
        # for a 10-feature single-pass group, separate from the planning
        # the write itself performs. They run on background threads (py4j
        # releases the GIL during JVM calls, so they genuinely overlap)
        # and are joined after the output write.
        plan_probe_pool = ThreadPoolExecutor(max_workers=2)
        plan_probe_futures: list[tuple[list[str], Any]] = []

        def _probe_plan(df: DataFrame) -> str:
            try:
                from timefence_spark.plans import physical_summary

                return str(physical_summary(df))
            except Exception:  # plan probe must never fail a build
                return ""

        def _submit_plan_probe(names: list[str], df: DataFrame) -> None:
            plan_probe_futures.append(
                (names, plan_probe_pool.submit(_probe_plan, df))
            )

        def _resolve_plan_probes() -> None:
            for names, fut in plan_probe_futures:
                try:
                    summary = fut.result()
                except Exception:
                    summary = ""
                for fname in names:
                    physical_plans[fname] = summary
            plan_probe_futures.clear()
            plan_probe_pool.shutdown(wait=False)
        union_groups: dict[tuple, list[Feature]] = {}
        op = "<" if join == "strict" else "<="
        for i, feat in enumerate(flat_features, 1):
            fdf, value_cols = feature_tables[feat.name]
            key_pairs = [(lk, feat.key_mapping.get(lk, lk)) for lk in labels.keys]
            transcript.append(
                f"-- pit_match[{feat.name}] strategy={strategy} "
                f"invariant: feature_time {op} {lt} - {format_duration(feat.embargo)} "
                f"AND feature_time >= {lt} - {format_duration(max_lookback_td)}"
                + (
                    f" AND feature_time >= {lt} - {format_duration(max_staleness_td)}"
                    if max_staleness_td
                    else ""
                )
            )
            if strategy == "union":
                union_groups.setdefault(tuple(key_pairs), []).append(feat)
                continue
            _emit(f"Joining {feat.name} ({i}/{len(flat_features)})")
            matched[feat.name] = pit_match(
                spine,
                fdf,
                key_pairs=key_pairs,
                label_time=lt,
                value_cols=value_cols,
                prefix=feat.name,
                embargo_s=duration_seconds(feat.embargo) or 0,
                lookback_s=duration_seconds(max_lookback_td),
                staleness_s=duration_seconds(max_staleness_td),
                strict=(join == "strict"),
                strategy=strategy,
            )
            _submit_plan_probe([feat.name], matched[feat.name])

        group_outputs: list[DataFrame] = []
        chunked_groups = [
            (kp, group_feats[i : i + UNION_GROUP_MAX_FEATURES])
            for kp, group_feats in union_groups.items()
            for i in range(0, len(group_feats), UNION_GROUP_MAX_FEATURES)
        ]
        dup_observations: list[tuple[Any, list[tuple[int, str]]]] = []
        for kp, group_feats in chunked_groups:
            _emit(
                "Joining "
                + ", ".join(f.name for f in group_feats)
                + " (single-pass)"
            )
            specs = [
                (
                    feat.name,
                    feature_tables[feat.name][0],
                    "feature_time",
                    feature_tables[feat.name][1],
                    duration_seconds(feat.embargo) or 0,
                )
                for feat in group_feats
            ]
            dup_track = [feat.name in window_dup_feats for feat in group_feats]
            dup_obs = None
            if any(dup_track):
                from pyspark.sql import Observation

                dup_obs = Observation()
                dup_observations.append(
                    (
                        dup_obs,
                        [
                            (fi, feat.name)
                            for fi, feat in enumerate(group_feats)
                            if dup_track[fi]
                        ],
                    )
                )
            gout = pit_match_multi(
                spine,
                specs,
                key_pairs=list(kp),
                label_time=lt,
                lookback_s=duration_seconds(max_lookback_td),
                staleness_s=duration_seconds(max_staleness_td),
                strict=(join == "strict"),
                carry_left=zero_join,
                dup_track=dup_track if any(dup_track) else None,
                dup_observation=dup_obs,
                bucket_s=skew_bucket_s,
            )
            group_outputs.append(gout)
            _submit_plan_probe([feat.name for feat in group_feats], gout)

        # ---- Step 4: recombine on the spine row id ---------------------
        if zero_join:
            # carry_left already emitted [*label_cols, features...] — the
            # whole build has zero joins.
            combined = group_outputs[0]
            transcript.append("-- recombine: none (zero-join single-pass plan)")
        else:
            combined = spine
            for gout in group_outputs:
                combined = combined.join(gout, ROW_ID, "left")
            for feat in flat_features:
                if feat.name in matched:
                    combined = combined.join(matched[feat.name], ROW_ID, "left")
            transcript.append(
                f"-- recombine: {len(group_outputs) + len(matched)}-way left "
                f"join on {ROW_ID} ({len(chunked_groups)} single-pass union "
                "group(s))"
            )
        value_col_names: list[str] = []
        for feat in flat_features:
            _, value_cols = feature_tables[feat.name]
            value_col_names.extend(f"{feat.name}__{c}" for c in value_cols)

        out_cols = [*labels.keys, lt, *labels.target, *value_col_names]

        # ---- Stats + temporal-audit aggregation expressions ------------
        # Everything the build needs to report — spine row count +
        # label-time range (combined is 1:1 with the spine, see step 1),
        # output row count under the on_missing filter, per-feature null
        # counts, and the post-build temporal verification (reference
        # engine.py:1342-1384) — is ONE set of aggregates over the
        # pre-projection combined table. With an output path they ride the
        # write itself as an Observation (zero extra Spark jobs, and the
        # manifest describes exactly the materialization that was
        # written); with output=None they run as a single agg job. The
        # old plan paid four separate jobs plus a persist of combined
        # whose only second consumer was those jobs; at 100K-label scale
        # the fixed ~0.2s-per-job overhead was most of the wall clock.
        skip_cond = None
        if on_missing == "skip" and value_col_names:
            for c in value_col_names:
                nn = F.col(c).isNotNull()
                skip_cond = nn if skip_cond is None else (skip_cond & nn)

        first_cols: dict[str, str] = {}
        for feat in flat_features:
            _, value_cols = feature_tables[feat.name]
            if value_cols:
                first_cols[feat.name] = f"{feat.name}__{value_cols[0]}"

        aggs: list[Any] = [
            F.count(F.lit(1)).alias("__n_labels"),
            F.min(lt).alias("__mn"),
            F.max(lt).alias("__mx"),
            (
                F.count(F.when(skip_cond, 1)) if skip_cond is not None else F.count(F.lit(1))
            ).alias("__n_result"),
        ]
        for i, c in enumerate(first_cols.values()):
            in_result = F.col(c).isNull()
            if skip_cond is not None:
                in_result = skip_cond & in_result
            aggs.append(F.count(F.when(in_result, 1)).alias(f"n_{i}"))
        for feat in flat_features:
            ft_col = F.col(f"{feat.name}__feature_time")
            embargo_s = duration_seconds(feat.embargo) or 0
            bound = F.col(lt)
            if embargo_s:
                bound = bound - F.make_dt_interval(secs=F.lit(embargo_s))
            viol = (ft_col >= bound) if join == "strict" else (ft_col > bound)
            aggs.append(
                F.count(F.when(ft_col.isNotNull() & viol, 1)).alias(
                    f"v_{safe_name(feat.name)}"
                )
            )

        observation = None
        observed = combined
        if output is not None:
            from pyspark.sql import Observation

            observation = Observation()
            observed = combined.observe(observation, *aggs)

        result = observed
        if skip_cond is not None:
            result = result.where(skip_cond)
        result = result.select(*out_cols)

        # Optional prefix flattening (reference engine.py:1281-1304)
        if flatten_columns:
            shorts = [c.split("__", 1)[1] if "__" in c else c for c in result.columns]
            if len(set(shorts)) == len(shorts):
                result = result.toDF(*shorts)

        # The deterministic final ORDER BY (O1) range-partitions, and the
        # range partitioner SAMPLES its child before the real shuffle pass
        # — without a cache boundary below the sort, the whole join
        # pipeline would execute twice per write and the Observation node
        # would double-count every metric. Persisting the pre-sort
        # projection (smaller than combined: audit/rowid columns already
        # dropped) makes the sample pass fill the cache, the shuffle pass
        # read it, and the observe node fire exactly once.
        pre_sort = None
        sorted_cache = None
        if output is not None:
            pre_sort = result.persist()
            result = pre_sort
        result = result.orderBy(*labels.keys, lt)
        if splits and output is not None:
            # Split writes are disjoint label_time filters over the SAME
            # sorted rows the main output writes. Without a cache boundary
            # above the sort, every split write re-runs the range
            # partitioner's sample pass AND the full sort from the
            # pre-sort cache (round 14, VERDICT r13 item 5: the splits
            # scenario ran 36 stages vs the plain build's 22 — +7 stages
            # per split). Persisting the SORTED result makes the main
            # write fill this cache and each split write a cached-scan +
            # filter + write: the sort is paid exactly once per build.
            sorted_cache = result.persist()
            result = sorted_cache

        # ---- Step 5: one materialization -> write + count + stats ------
        # Join the background duplicate-check action NOW: any standalone
        # TimefenceDuplicateError must surface before the first output
        # side effect (and before config errors from the write options,
        # matching the classic sequential ordering). This join is cheap
        # since round 13: for the common columns-mode/union-strategy
        # build the per-source duplicate aggregation no longer exists —
        # the count rides the main window pass as lag/lead flags (see
        # pit_match_multi dup_track) and only a NULL-key/NULL-time
        # subset agg (parquet null-stats prune it to footer reads on
        # clean data) plus any ineligible sources run here.
        # (r13 experiment, measured and REJECTED: resolving the FULL
        # standalone check after the write to overlap its jobs with the
        # write's stages helped nothing at local[32] — both phases
        # saturate the same cores and the dup shuffle contends with the
        # pre-sort persist; alternating same-host A/B: old mins
        # 12.9-15.9s, overlapped 12.2-16.5s at 1m_x10. The in-window
        # formulation ELIMINATES the work instead of rescheduling it.)
        # (r12 experiment, measured and REJECTED: pre-filling the persist
        # cache with a background noop write to overlap this wait made
        # 1m_x10 ~20% SLOWER warm and ~75% slower cold — the standalone
        # fill pays the full pipeline + columnar cache build serially,
        # while inside the write AQE overlaps those stages with the
        # sample/sort work. Keep the single-materialization shape.)
        _resolve_dup_checks()
        _emit("Writing output")
        if part_list:
            part_cols = part_list
            out_str = str(output) if output is not None else ""
            if out_str.endswith((".parquet", ".pq")):
                raise TimefenceConfigError(
                    "output_partition_by writes a partitioned parquet "
                    "directory; pass a directory path for 'output', not a "
                    f"'.parquet' file ({out_str})."
                )
            missing = [c for c in part_cols if c not in result.columns]
            if missing:
                raise TimefenceConfigError(
                    f"output_partition_by columns not in output: {missing}. "
                    f"Available: {result.columns}"
                )
        else:
            part_cols = None
        _emit("Verifying temporal correctness")
        stats_map: dict[str, Any] | None = None
        if output is not None:
            _write_output(result, output, part_cols)
            try:
                stats_map = observation.get
            except Exception:
                # The optimizer can eliminate the CollectMetrics node —
                # statically empty relations, or AQE replacing a subtree
                # that produced zero rows mid-execution — in which case
                # the observation row is null and get() raises. Degenerate
                # builds are exactly the cheap ones, so falling back to
                # the standalone aggregation costs little.
                logger.info(
                    "build stats observation was optimized away; "
                    "recomputing with a standalone aggregation"
                )
        if stats_map is None:
            stats_map = combined.agg(*aggs).first().asDict()

        # ---- In-window duplicate policy (round 13) ---------------------
        # The per-feature duplicate-group counts landed with the SAME
        # action that materialized the build (write, or the stats agg
        # when output=None); the NULL-subset counts from the batched
        # pre-pass add the rows the window never saw. A duplicate error
        # therefore surfaces after the output write — the build still
        # fails and the just-written files are removed, but a
        # pre-existing directory an overwrite-build targeted is gone
        # rather than preserved (the cost of deleting the standalone
        # scan+shuffle of every source from the critical path).
        if dup_observations:
            window_counts: dict[str, int] | None = {}
            for dup_obs, tracked in dup_observations:
                vals = _observation_get(dup_obs, timeout_s=60.0)
                if vals is None:
                    window_counts = None
                    break
                for fi, fname in tracked:
                    window_counts[fname] = int(vals.get(f"dups_{fi}") or 0)
            try:
                if window_counts is None:
                    # CollectMetrics optimized away (degenerate plans) —
                    # the classic standalone check applies the policy.
                    logger.info(
                        "in-window duplicate metrics unavailable; falling "
                        "back to the standalone duplicate check"
                    )
                    _batch_duplicate_checks(list(window_dup_feats.values()))
                else:
                    for fname, (tag, src_df, feat) in window_dup_feats.items():
                        total = window_counts.get(fname, 0) + null_dup_results.get(
                            tag, 0
                        )
                        _apply_dup_policy(src_df, feat, total)
            except Exception:
                if output is not None:
                    out_str = _abs(output)
                    if "://" not in out_str:
                        out_path = Path(out_str)
                        if out_path.is_dir():
                            shutil.rmtree(out_path, ignore_errors=True)
                        elif out_path.exists():
                            out_path.unlink()
                raise

        result_cols = result.columns
        _resolve_plan_probes()

        label_count = int(stats_map["__n_labels"])
        label_time_range = (
            [str(stats_map["__mn"]), str(stats_map["__mx"])]
            if stats_map["__mn"] is not None
            else None
        )
        transcript[spine_transcript_idx] = (
            f"-- spine: {label_count} label rows, keys={labels.keys}, label_time={lt}"
        )
        result_count = int(stats_map["__n_result"])

        feature_stats: dict[str, dict[str, Any]] = {}
        for i, fname in enumerate(first_cols):
            null_count = int(stats_map[f"n_{i}"])
            feature_stats[fname] = {
                "matched": result_count - null_count,
                "missing": null_count,
                "cached": feature_cache_status.get(fname, False),
            }

        audit_passed = all(
            int(stats_map[f"v_{safe_name(feat.name)}"] or 0) == 0
            for feat in flat_features
        )

        # ---- splits ----------------------------------------------------
        split_paths = None
        if splits and output:
            split_paths = {}
            output_path = Path(str(output))
            # label_time survives flatten unchanged: flatten only strips
            # "{feature}__" prefixes and label_time never carries one.
            ts_type = result.schema[lt].dataType
            # The split writes are disjoint filters over the SAME persisted
            # pre-sort cache, so they run as concurrent Spark actions
            # (thread pool): two splits cost ~one write's wall clock
            # instead of two sequential ones.
            def _write_split(item):
                split_name, (start, end) = item
                split_file = (
                    output_path.parent
                    / f"{output_path.stem}_{split_name}{output_path.suffix or '.parquet'}"
                )
                split_df = result.where(
                    (F.col(lt) >= F.lit(start).cast(ts_type))
                    & (F.col(lt) < F.lit(end).cast(ts_type))
                )
                _write_output(split_df, split_file)
                return split_name, split_file

            with ThreadPoolExecutor(max_workers=min(4, len(splits))) as spool:
                split_paths = dict(spool.map(_write_split, splits.items()))

        elapsed = time.time() - start_time
        stats = BuildStats(
            row_count=result_count,
            column_count=len(result_cols),
            feature_stats=feature_stats,
            duration_seconds=elapsed,
        )

        output_file_size = None
        if output is not None:
            p = Path(str(output))
            if p.is_file():
                output_file_size = p.stat().st_size
            elif p.is_dir():
                output_file_size = sum(f.stat().st_size for f in p.rglob("*") if f.is_file())

        build_id = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ")
        manifest: dict[str, Any] = {
            "timefence_spark_version": __version__,
            "build_id": build_id,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "duration_seconds": elapsed,
            "labels": {
                "path": str(labels.path) if labels.path else None,
                "content_hash": _content_hash_safe(labels.path, store),
                "row_count": label_count,
                "time_range": label_time_range,
                "keys": labels.keys,
                "label_time_column": lt,
                "target_columns": labels.target,
            },
            "features": {},
            "parameters": {
                "max_lookback": format_duration(max_lookback_td),
                "max_staleness": format_duration(max_staleness_td),
                "join": join,
                "on_missing": on_missing,
            },
            "output": {
                "path": str(output) if output else None,
                "content_hash": _content_hash_safe(
                    Path(str(output)) if output else None, store
                ),
                "row_count": result_count,
                "column_count": len(result_cols),
                "file_size_bytes": output_file_size,
            },
            "audit": {
                "passed": audit_passed,
                "invariant": (
                    f"feature_time {'<' if join == 'strict' else '<='} "
                    "label_time - embargo"
                ),
                "rows_checked": result_count,
            },
            "environment": {
                "python_version": _python_version(),
                "spark_version": spark.version,
                "os": "spark-local",
            },
        }
        for feat in flat_features:
            fstats = feature_stats.get(feat.name, {})
            manifest["features"][feat.name] = {
                "definition_hash": _definition_hash(feat),
                "source_content_hash": _content_hash_safe(feat.source.path, store),
                "embargo": format_duration(feat.embargo),
                "matched_rows": fstats.get("matched", 0),
                "missing_rows": fstats.get("missing", 0),
                "output_columns": feature_tables[feat.name][1],
                "strategy": strategy,
                "cached": feature_cache_status.get(feat.name, False),
            }

        if store is not None and feature_cache_keys:
            bck = store.build_cache_key(
                _content_hash_safe(labels.path, store),
                feature_cache_keys,
                format_duration(max_lookback_td),
                format_duration(max_staleness_td),
                join,
                on_missing,
                output_spec,
            )
            manifest["build_cache_key"] = bck
            manifest_path = store.save_build(manifest)
            manifest["manifest_path"] = str(manifest_path)

        if sorted_cache is not None:
            sorted_cache.unpersist()
        if pre_sort is not None:
            pre_sort.unpersist()
        return BuildResult(
            output_path=str(output) if output else None,
            manifest=manifest,
            stats=stats,
            splits=split_paths,
            sql="\n\n".join(transcript),
            physical_plans=physical_plans,
            dataframe=result,
        )
    finally:
        if saved_shuffle_conf is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions", saved_shuffle_conf
            )
        # Error paths can leave the background pools (duplicate check,
        # plan probes) un-joined; shut them down without waiting so a
        # failed build doesn't block interpreter exit on a collect.
        for _pool in ("dup_pool", "plan_probe_pool"):
            p = locals().get(_pool)
            if p is not None:
                p.shutdown(wait=False)
        # The spine's localCheckpoint blocks are freed by the
        # ContextCleaner once the DataFrame is garbage-collected;
        # unpersist() does not apply to checkpointed data.
        del spine


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
                max_us = row[f"max_{i}"]
                med_us = row[f"med_{i}"]
                max_leak = timedelta(microseconds=int(max_us)) if max_us is not None else None
                med_leak = timedelta(microseconds=int(med_us)) if med_us is not None else None
                pct = leaky_count / total if total > 0 else 0.0
                leaky_rows_df = None
                try:
                    leaky_rows_df = (
                        df.where(F.col(ft_name) >= lt_col).limit(1000).toPandas()
                    )
                except Exception as exc:  # capture is best-effort
                    logger.debug("Could not capture leaky rows for %s: %s", feat_col, exc)
                report.features[feat_col] = FeatureAuditDetail(
                    name=feat_col,
                    leaky_row_count=leaky_count,
                    leaky_row_pct=pct,
                    max_leakage=max_leak,
                    median_leakage=med_leak,
                    severity=classify_severity(pct, max_leak),
                    total_rows=total,
                    clean=False,
                    leaky_rows=leaky_rows_df,
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
    and diff values against the existing dataset (reference engine.py:1635-1872)."""
    spark = get_spark(spark)
    keys_list = [keys] if isinstance(keys, str) else list(keys)
    flat_features = flatten_features(features)
    max_lookback_td = parse_duration(max_lookback) or timedelta(
        days=DEFAULT_MAX_LOOKBACK_DAYS
    )
    max_staleness_td = parse_duration(max_staleness)

    existing = _load_dataset_df(spark, data)
    # Same rowid pin as the build spine: checkpoint, don't just cache —
    # the rebuild-compare join is keyed on these ids.
    existing = pin(
        existing.withColumn(ROW_ID, F.monotonically_increasing_id()),
        checkpoint_dir=_opt_str(checkpoint_dir),
        eager=True,
    )
    total = existing.count()
    existing_cols = [c for c in existing.columns if c != ROW_ID]

    try:
        report = AuditReport(total_rows=total, mode="rebuild")
        lt_dtype = existing.schema[label_time].dataType

        # Rebuild every comparable feature in as few passes as possible:
        # features sharing an entity-key mapping rebuild through ONE
        # pit_match_multi union/window pass (same plan the build uses), all
        # rebuilt columns attach through one comparison join, and every
        # feature's stats compute in ONE aggregation action. The audited
        # feature count no longer multiplies the number of Spark jobs
        # (previously: one rebuild + one join + one agg per feature).
        registered: dict[str, DataFrame] = {}
        audited: list[tuple[Feature, list[str], list[tuple[str, str]]]] = []
        groups: dict[tuple, list[tuple[Feature, DataFrame, list[str]]]] = {}
        registered.update(_preload_sources(spark, flat_features))
        for feat in flat_features:
            src_name = feat.source.name
            if src_name not in registered:
                registered[src_name] = load_source_df(spark, feat.source)
            fdf, value_cols = _compute_feature_df(spark, feat, registered[src_name])
            matching_cols = []
            for col in value_cols:
                namespaced = f"{feat.name}__{col}"
                if namespaced in existing_cols:
                    matching_cols.append((namespaced, f"__c_{namespaced}"))
                elif col in existing_cols:
                    matching_cols.append((col, f"__c_{namespaced}"))
            if not matching_cols:
                # Nothing to compare against — no need to rebuild it at all.
                report.features[feat.name] = FeatureAuditDetail(
                    name=feat.name, total_rows=total, clean=True
                )
                continue
            key_pairs = [(lk, feat.key_mapping.get(lk, lk)) for lk in keys_list]
            audited.append((feat, value_cols, matching_cols))
            groups.setdefault(tuple(key_pairs), []).append((feat, fdf, value_cols))

        if not audited:
            return report

        cmp = existing
        for kp, group in groups.items():
            specs = [
                (
                    feat.name,
                    fdf,
                    "feature_time",
                    value_cols,
                    duration_seconds(feat.embargo) or 0,
                )
                for feat, fdf, value_cols in group
            ]
            correct = pit_match_multi(
                existing,
                specs,
                key_pairs=list(kp),
                label_time=label_time,
                lookback_s=duration_seconds(max_lookback_td),
                staleness_s=duration_seconds(max_staleness_td),
                strict=(join == "strict"),
            )
            # The audited dataset usually carries the same namespaced column
            # names the rebuild produces — prefix the rebuilt side to keep
            # the comparison join unambiguous.
            correct = correct.select(
                ROW_ID,
                *[
                    F.col(c).alias(f"__c_{c}")
                    for c in correct.columns
                    if c != ROW_ID
                ],
            )
            cmp = cmp.join(correct, ROW_ID, "inner")

        cmp = cmp.persist()
        try:
            aggs: list[F.Column] = []
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

            for fi, (feat, value_cols, matching_cols) in enumerate(audited):
                leaky_count = 0
                worst: str | None = None
                for j, (exist_col, _) in enumerate(matching_cols):
                    n = int(row[f"bad_{fi}_{j}"])
                    if n > leaky_count:
                        leaky_count = n
                        worst = exist_col

                if leaky_count > 0:
                    pct = leaky_count / total if total > 0 else 0.0
                    max_leak = (
                        timedelta(microseconds=int(row[f"max_{fi}"]))
                        if row[f"max_{fi}"] is not None
                        else None
                    )
                    # Exact median (DuckDB MEDIAN parity) requires a full
                    # sort of the lag column; defer it to the leaky path so
                    # a clean audit — the common case — never pays N
                    # column-sorts in the stats aggregation.
                    med_row = cmp.agg(
                        F.percentile(diff_by_feat[fi], F.lit(0.5)).alias("m")
                    ).first()
                    med_leak = (
                        timedelta(microseconds=int(med_row["m"]))
                        if med_row is not None and med_row["m"] is not None
                        else None
                    )
                    leaky_rows_df = None
                    try:
                        leaky_rows_df = (
                            cmp.where(mismatch_by_feat[feat.name][worst])
                            .select(*existing_cols)
                            .limit(1000)
                            .toPandas()
                        )
                    except Exception as exc:
                        logger.debug(
                            "Could not capture leaky rows for %s: %s", feat.name, exc
                        )
                    report.features[feat.name] = FeatureAuditDetail(
                        name=feat.name,
                        leaky_row_count=leaky_count,
                        leaky_row_pct=pct,
                        max_leakage=max_leak,
                        median_leakage=med_leak,
                        severity=classify_severity(pct, max_leak),
                        total_rows=total,
                        clean=False,
                        leaky_rows=leaky_rows_df,
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
        del existing


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
