"""Result objects: BuildResult, AuditReport, ExplainResult, DiffResult.

Parity with the reference result surface (engine.py:67-403): same fields,
``__str__``/``_repr_html_`` renderings, ``to_json``/``to_html`` exports,
``assert_clean``/``validate``/``explain`` helpers, and the same severity
classification thresholds.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import timedelta
from functools import cached_property
from pathlib import Path
from typing import Any

from timefence_spark._constants import (
    SEVERITY_HIGH_DAYS,
    SEVERITY_HIGH_PCT,
    SEVERITY_MEDIUM_DAYS,
    SEVERITY_MEDIUM_PCT,
)
from timefence_spark.errors import TimefenceLeakageError


@dataclass
class BuildStats:
    row_count: int = 0
    column_count: int = 0
    feature_stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    duration_seconds: float = 0.0


@dataclass
class BuildResult:
    output_path: str | None
    manifest: dict[str, Any]
    stats: BuildStats
    splits: dict[str, Path] | None = None
    sql: str = ""  # plan transcript: generated logical-plan descriptions
    # The built training set as a LAZY Spark DataFrame (Spark-native extra;
    # the reference's BuildResult is file-only, engine.py:76-81). Always set
    # for fresh builds — with output=None this is the only way to consume
    # the result; with an output path it shares the written plan. None for
    # store-cache hits (read output_path instead).
    dataframe: Any = None
    # Feature name -> the matched DataFrame holding its as-of join; the
    # source of physical_plans.
    matched: dict[str, Any] = field(default_factory=dict, repr=False)

    @cached_property
    def physical_plans(self) -> dict[str, str]:
        """Catalyst physical-plan summary per feature join (exchanges, join
        kinds, windows, scans) — the Spark analogue of the reference's
        executed-SQL transcript (reference engine.py:1491-1497). Planned on
        first access, once per matched DataFrame; a build plans nothing
        for it."""
        from timefence_spark.plans import physical_summary

        summaries: dict[int, str] = {}
        for df in self.matched.values():
            if id(df) not in summaries:
                try:
                    summaries[id(df)] = str(physical_summary(df))
                except Exception:  # a plan summary never fails the caller
                    summaries[id(df)] = ""
        return {name: summaries[id(df)] for name, df in self.matched.items()}

    def __str__(self) -> str:
        lines = [
            f"BuildResult: {self.stats.row_count} rows, {self.stats.column_count} columns"
        ]
        if self.output_path:
            lines.append(f"  Output: {self.output_path}")
        lines.append(f"  Time: {self.stats.duration_seconds:.1f}s")
        for fname, fstats in self.stats.feature_stats.items():
            matched = fstats.get("matched", 0)
            missing = fstats.get("missing", 0)
            total = matched + missing
            if missing:
                lines.append(
                    f"  {fname}: {matched}/{total} matched ({missing} missing -> null)"
                )
            else:
                lines.append(f"  {fname}: {matched}/{total} matched")
        return "\n".join(lines)

    def validate(self) -> bool:
        """Whether the post-build temporal verification passed."""
        return self.manifest.get("audit", {}).get("passed", False)

    def explain(self) -> str:
        """The join-plan transcript for this build, including the Catalyst
        physical summary of each feature's as-of join."""
        parts = [self.sql] if self.sql else []
        for fname, psum in self.physical_plans.items():
            parts.append(f"-- physical[{fname}]\n{psum}")
        return "\n\n".join(parts)

    def _repr_html_(self) -> str:
        rows = []
        for fname, fstats in self.stats.feature_stats.items():
            matched = fstats.get("matched", 0)
            missing = fstats.get("missing", 0)
            rows.append(
                f"<tr><td>{'OK' if missing == 0 else 'OK (nulls)'}</td>"
                f"<td>{fname}</td><td>{matched:,}/{matched + missing:,}</td>"
                f"<td>{missing:,}</td></tr>"
            )
        audit_ok = self.manifest.get("audit", {}).get("passed")
        return (
            "<div style='font-family:monospace'><h3>Timefence-Spark Build Result</h3>"
            f"<p>{self.stats.row_count:,} rows, {self.stats.column_count} columns "
            f"in {self.stats.duration_seconds:.1f}s</p>"
            f"<p>Audit: <b>{'PASSED' if audit_ok else 'FAILED'}</b></p>"
            "<table border='1'><tr><th>Status</th><th>Feature</th>"
            f"<th>Matched</th><th>Missing</th></tr>{''.join(rows)}</table></div>"
        )


def format_leakage(td: timedelta) -> str:
    """Humanize a leakage magnitude (largest whole unit)."""
    if td.days > 0:
        return f"{td.days} day{'s' if td.days != 1 else ''}"
    total = td.total_seconds()
    for unit, secs in (("hour", 3600), ("minute", 60)):
        n = int(total // secs)
        if n > 0:
            return f"{n} {unit}{'s' if n != 1 else ''}"
    n = int(total)
    return f"{n} second{'s' if n != 1 else ''}"


def classify_severity(pct: float, max_leakage: timedelta | None) -> str:
    """Reference thresholds: HIGH >5% or >7d; MEDIUM >1% or >=1d
    (engine.py:323-332, _constants.py:16-19)."""
    if max_leakage and max_leakage.days > SEVERITY_HIGH_DAYS:
        return "HIGH"
    if pct > SEVERITY_HIGH_PCT:
        return "HIGH"
    if pct > SEVERITY_MEDIUM_PCT or (max_leakage and max_leakage.days >= SEVERITY_MEDIUM_DAYS):
        return "MEDIUM"
    return "LOW"


@dataclass
class FeatureAuditDetail:
    name: str
    leaky_row_count: int = 0
    leaky_row_pct: float = 0.0
    max_leakage: timedelta | None = None
    median_leakage: timedelta | None = None
    severity: str = "OK"
    total_rows: int = 0
    null_rows: int = 0
    clean: bool = True
    leaky_rows: Any = None  # pandas DataFrame of violating rows (<=1000)


@dataclass
class AuditReport:
    features: dict[str, FeatureAuditDetail] = field(default_factory=dict)
    total_rows: int = 0
    mode: str = "rebuild"

    @property
    def has_leakage(self) -> bool:
        return any(not d.clean for d in self.features.values())

    @property
    def clean_features(self) -> list[str]:
        return [n for n, d in self.features.items() if d.clean]

    @property
    def leaky_features(self) -> list[str]:
        return [n for n, d in self.features.items() if not d.clean]

    def __getitem__(self, key: str) -> FeatureAuditDetail:
        return self.features[key]

    def assert_clean(self) -> None:
        if self.has_leakage:
            raise TimefenceLeakageError(
                f"Temporal leakage detected in features: {', '.join(self.leaky_features)}"
            )

    def to_json(self, path: str) -> None:
        data: dict[str, Any] = {
            "has_leakage": self.has_leakage,
            "total_rows": self.total_rows,
            "mode": self.mode,
            "features": {},
        }
        for name, d in self.features.items():
            data["features"][name] = {
                "clean": d.clean,
                "leaky_row_count": d.leaky_row_count,
                "leaky_row_pct": d.leaky_row_pct,
                "max_leakage_seconds": (
                    d.max_leakage.total_seconds() if d.max_leakage else None
                ),
                "median_leakage_seconds": (
                    d.median_leakage.total_seconds() if d.median_leakage else None
                ),
                "severity": d.severity,
                "total_rows": d.total_rows,
                "null_rows": d.null_rows,
            }
        Path(path).write_text(json.dumps(data, indent=2))

    def _rows_html(self) -> str:
        rows = []
        for name, d in self.features.items():
            status = "CLEAN" if d.clean else "LEAK"
            rows.append(
                f"<tr><td>{status}</td><td>{name}</td><td>{d.leaky_row_count}</td>"
                f"<td>{d.leaky_row_pct:.1%}</td><td>{d.severity}</td></tr>"
            )
        return "".join(rows)

    def to_html(self, path: str) -> None:
        Path(path).write_text(
            "<!DOCTYPE html><html><head><title>Timefence-Spark Audit Report</title></head>"
            f"<body><h1>Temporal Audit Report</h1><p>Scanned {self.total_rows} rows</p>"
            "<table border='1'><tr><th>Status</th><th>Feature</th><th>Leaky Rows</th>"
            f"<th>%</th><th>Severity</th></tr>{self._rows_html()}</table></body></html>"
        )

    def _repr_html_(self) -> str:
        verdict = "LEAKAGE DETECTED" if self.has_leakage else "ALL CLEAN"
        return (
            "<div style='font-family:monospace'><h3>Temporal Audit Report</h3>"
            f"<p>Scanned {self.total_rows:,} rows — <b>{verdict}</b></p>"
            "<table border='1'><tr><th>Status</th><th>Feature</th><th>Leaky Rows</th>"
            f"<th>%</th><th>Severity</th></tr>{self._rows_html()}</table></div>"
        )

    def __str__(self) -> str:
        lines = ["TEMPORAL AUDIT REPORT", f"Scanned {self.total_rows} rows"]
        if self.has_leakage:
            lines.append(
                f"WARNING: LEAKAGE DETECTED in {len(self.leaky_features)} of "
                f"{len(self.features)} features"
            )
        else:
            lines.append("ALL CLEAN - no temporal leakage detected")
        lines.append("")
        for name, d in self.features.items():
            if d.clean:
                null_info = f", {d.null_rows} null" if d.null_rows else ""
                lines.append(f"  OK  {name} - clean ({d.total_rows} rows{null_info})")
            else:
                lines.append(f"  LEAK  {name}")
                lines.append(
                    f"        {d.leaky_row_count} rows ({d.leaky_row_pct:.1%}) "
                    "use feature data from the future"
                )
                if d.max_leakage:
                    lines.append(f"        Max leakage: {format_leakage(d.max_leakage)}")
                if d.median_leakage:
                    lines.append(
                        f"        Median leakage: {format_leakage(d.median_leakage)}"
                    )
                lines.append(f"        Severity: {d.severity}")
        return "\n".join(lines)


@dataclass
class ExplainResult:
    plan: list[dict[str, Any]] = field(default_factory=list)
    label_count: int = 0

    def __str__(self) -> str:
        lines = [f"JOIN PLAN for {self.label_count} label rows", ""]
        lines.append("For each label row (keys, label_time):")
        lines.append("")
        for i, item in enumerate(self.plan, 1):
            lines.append(f"  {i}. {item['name']}")
            lines.append(f"     Source:  {item['source']}")
            lines.append(f"     Join:    {item['join_condition']}")
            lines.append(f"     Window:  {item['window']}")
            lines.append(f"     Embargo: {item.get('embargo_str', 'none')}")
            lines.append(f"     Strategy: {item.get('strategy', 'union')}")
            lines.append("     Plan:")
            for plan_line in item["sql"].split("\n"):
                lines.append(f"       {plan_line}")
            lines.append("")
        return "\n".join(lines)


@dataclass
class DiffResult:
    old_rows: int = 0
    new_rows: int = 0
    #: rows matched by the inner join on (keys, label_time) — the
    #: denominator for every changed_pct.
    matched_rows: int = 0
    schema_changes: list[dict[str, str]] = field(default_factory=list)
    value_changes: dict[str, dict[str, Any]] = field(default_factory=dict)

    def __str__(self) -> str:
        lines = ["BUILD DIFF", "", "Rows"]
        delta = self.new_rows - self.old_rows
        sign = "+" if delta >= 0 else ""
        lines.append(f"  old: {self.old_rows}    new: {self.new_rows}    ({sign}{delta})")
        lines.append("")
        if self.schema_changes:
            lines.append("Schema")
            for change in self.schema_changes:
                lines.append(
                    f"  {change['type']} {change['column']}    {change.get('detail', '')}"
                )
            lines.append("")
        if self.value_changes:
            lines.append("Value Changes")
            for col, stats in self.value_changes.items():
                lines.append(
                    f"  {col}: {stats.get('changed_count', 0)} values changed "
                    f"({stats.get('changed_pct', 0):.1%})"
                )
                if "mean_delta" in stats:
                    lines.append(f"    Mean delta: {stats['mean_delta']:.3f}")
                if "max_delta" in stats:
                    lines.append(f"    Max delta: {stats['max_delta']:.3f}")
            lines.append("")
        return "\n".join(lines)
