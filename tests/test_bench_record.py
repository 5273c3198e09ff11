"""Record-consistency gates (VERDICT r12 items 1/8): the committed
BENCH_DETAIL.json is THE scale record, and every prose surface that
quotes engine numbers must quote it verbatim — three divergent 100k_x1
values coexisted in round 12 because nothing tied the table to the
artifact."""

from __future__ import annotations

import json
import re
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _committed(name: str) -> str:
    """``name`` as committed at git HEAD; the working-tree copy only when
    git is unavailable or HEAD has no such file. A bench run in the
    working tree overwrites BENCH_DETAIL.json with scratch output
    (possibly at a different core count), and these gates are about the
    committed comparison base, not whatever a measurement loop last
    wrote. The record and the table it feeds are read from the same
    source, so a record committed without its table fails at once."""
    try:
        out = subprocess.run(
            ["git", "show", f"HEAD:{name}"],
            cwd=ROOT, capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        out = None
    if out is not None and out.returncode == 0:
        return out.stdout
    return (ROOT / name).read_text()


def _detail() -> dict:
    """The committed record; a corrupt one fails the gate."""
    return json.loads(_committed("BENCH_DETAIL.json"))


def test_baseline_engine_table_quotes_committed_bench_detail():
    """Every 'this engine' cell in BASELINE.md's same-host calibration
    table equals the committed BENCH_DETAIL scale[<label>].sec (rounded
    to 2 places, the table's precision)."""
    detail = _detail()
    scale = detail.get("scale") or {}
    md = _committed("BASELINE.md")
    # A cell may carry a parenthesized steal annotation after the
    # committed number (ADVICE r13), e.g. "16.35 s (steal; quiet 9.97 s)"
    # — the leading number must still quote the record verbatim.
    rows = re.findall(
        r"^\| (\S+) \| [^|]+ \| [^|]+ \| ([0-9.]+) s(?: \([^|]*\))? \|",
        md,
        re.M,
    )
    assert len(rows) >= 6, "BASELINE.md engine table not found/parsable"
    checked = 0
    for label, md_val in rows:
        rec = scale.get(label)
        if rec is None or rec.get("sec") is None:
            continue
        assert abs(float(md_val) - round(rec["sec"], 2)) < 0.006, (
            f"BASELINE.md quotes {md_val}s for {label} but the committed "
            f"BENCH_DETAIL.json records {rec['sec']}s — regenerate the "
            "table from the record"
        )
        checked += 1
    assert checked >= 6, f"only {checked} engine cells matched scale labels"


def test_committed_record_is_not_degraded():
    """A DEGRADED_RUN (suite or scale section) must never be the
    committed comparison base — re-measure and commit a clean record
    instead."""
    detail = _detail()
    suite_v = (detail.get("suite_validity") or {}).get("status")
    assert suite_v != "DEGRADED_RUN", (
        "the committed BENCH_DETAIL.json is suite-DEGRADED; re-run on a "
        "quiet host before committing"
    )
    scale_v = (detail.get("scale_validity") or {}).get("status")
    assert scale_v != "DEGRADED_RUN", (
        "the committed BENCH_DETAIL.json's scale section is DEGRADED"
    )


def test_clustered_read_payoff_not_inverted():
    """The committed clustered_read row must show the pruning read
    FASTER than the full scan (the r12 round-end record inverted to
    0.58x and still shipped); the order-balanced scenario makes an
    inversion a measurement bug by construction."""
    detail = _detail()
    cr = (detail.get("scale") or {}).get("clustered_read") or {}
    if cr.get("order") != "alternating_balanced":
        # Record predates the order-balanced scenario (r12's biased
        # always-scattered-second loop produced the inverted row this
        # gate exists to catch) — nothing the old record can prove.
        return
    assert cr["speedup"] >= 1.0, (
        f"committed clustered_read speedup {cr['speedup']}x is inverted"
    )
