"""Seeded input generators for the benchmark.

Everything here runs outside all timing. Inputs are cached under the work
directory by (kind, shape, seed), so a repeated seed reuses its files.

PIT inputs follow the reference benchmark recipe: labels span one day
across max(1000, N/5) entities, and each feature has 2N rows spread over
one year. Times are unique microsecond instants, so no (key, time) pair
repeats and the as-of match is unambiguous. Feature values are multiples
of 1/1024 below 2**10, so every sum the checks take is exact in float64
whatever the summation order.

The reference training set is made by DuckDB's native ``ASOF LEFT JOIN``
(embargo in the join predicate, lookback applied after the join), with
each feature's matched time carried beside its value.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LABEL_DAY_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000
YEAR_US = 365 * DAY_US
LOOKBACK = "365d"
LOOKBACK_DAYS = 365
VALUE_SCALE = 1024.0


@dataclass(frozen=True)
class PitInputs:
    root: str
    labels: str
    features: list[str]
    n_labels: int
    embargo_days: list[int]


def _unique_times(rng: np.random.Generator, n: int, lo: int, span: int) -> np.ndarray:
    """n distinct microsecond instants in [lo, lo + span)."""
    t = rng.integers(0, span, n)
    while True:
        _, first = np.unique(t, return_index=True)
        if len(first) == n:
            return lo + t
        dup = np.ones(n, dtype=bool)
        dup[first] = False
        t[dup] = rng.integers(0, span, int(dup.sum()))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def embargo_days(i: int) -> int:
    """Feature i's embargo: every third feature carries a 1-day embargo."""
    return 1 if i % 3 == 1 else 0


def pit_inputs(work: str, n_labels: int, n_features: int, seed: int) -> PitInputs:
    """Labels plus n_features feature tables, cached by shape and seed."""
    root = os.path.join(work, "inputs", f"pit_{n_labels}x{n_features}_s{seed}")
    labels = os.path.join(root, "labels.parquet")
    features = [os.path.join(root, f"feature_{i}.parquet") for i in range(n_features)]
    n_entities = max(1000, n_labels // 5)
    out = PitInputs(
        root, labels, features, n_labels,
        [embargo_days(i) for i in range(n_features)],
    )
    if all(os.path.exists(p) for p in [labels, *features]):
        return out
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, n_labels, n_features])
    _write(
        pa.table({
            "user_id": pa.array(rng.integers(0, n_entities, n_labels)),
            "label_time": _ts(_unique_times(rng, n_labels, LABEL_DAY_US, DAY_US)),
            "churned": pa.array(rng.integers(0, 2, n_labels).astype(bool)),
        }),
        labels,
    )
    n_rows = 2 * n_labels
    # One year of feature history ending one day after the label day, so
    # some rows lie after (or within the embargo of) some label times.
    first_us = LABEL_DAY_US + DAY_US - YEAR_US
    for i, path in enumerate(features):
        _write(
            pa.table({
                "user_id": pa.array(rng.integers(0, n_entities, n_rows)),
                "updated_at": _ts(_unique_times(rng, n_rows, first_us, YEAR_US)),
                f"val_{i}": pa.array(rng.integers(0, 1 << 20, n_rows) / VALUE_SCALE),
            }),
            path,
        )
    return out


def value_col(i: int) -> str:
    """The build's output column for feature i's value."""
    return f"feature_{i}__val_{i}"


def time_col(i: int) -> str:
    """The reference set's column for feature i's matched time."""
    return f"feature_{i}__feature_time"


def reference_sql(inp: PitInputs) -> str:
    """DuckDB ASOF LEFT JOIN producing the PIT-correct training set."""
    cols = ["l.user_id", "l.label_time", "l.churned"]
    joins = []
    for i, path in enumerate(inp.features):
        f = f"f{i}"
        in_window = (
            f"{f}.updated_at >= l.label_time - INTERVAL {LOOKBACK_DAYS} DAY"
        )
        cols.append(
            f"CASE WHEN {in_window} THEN {f}.val_{i} END AS {value_col(i)}"
        )
        cols.append(
            f"CASE WHEN {in_window} THEN {f}.updated_at END AS {time_col(i)}"
        )
        joins.append(
            f"ASOF LEFT JOIN read_parquet('{path}') {f} "
            f"ON l.user_id = {f}.user_id AND "
            f"l.label_time - INTERVAL {inp.embargo_days[i]} DAY > {f}.updated_at"
        )
    return (
        f"SELECT {', '.join(cols)} FROM read_parquet('{inp.labels}') l "
        + " ".join(joins)
    )


def reference_set(inp: PitInputs, threads: int) -> str:
    """The DuckDB-made training set for ``inp``, cached beside the inputs."""
    path = os.path.join(inp.root, "reference.parquet")
    if not os.path.exists(path):
        con = duckdb.connect(config={"threads": threads})
        try:
            con.execute(
                f"COPY ({reference_sql(inp)} ORDER BY l.user_id, l.label_time) "
                f"TO '{path}.tmp' (FORMAT PARQUET)"
            )
        finally:
            con.close()
        os.replace(path + ".tmp", path)
    return path


def planted_set(inp: PitInputs, reference: str, n_leaks: int, seed: int,
                threads: int) -> str:
    """A copy of ``reference`` where ``n_leaks`` rows of feature_0 carry a
    value and time from after their label time, the shape a leaky join
    produces. Planted rows are chosen among rows with a feature_0 match,
    so the rebuild audit sees both sides non-null."""
    path = os.path.join(inp.root, f"planted_{n_leaks}.parquet")
    if os.path.exists(path):
        return path
    v, t = value_col(0), time_col(0)
    con = duckdb.connect(config={"threads": threads})
    try:
        con.execute(
            f"CREATE TEMP TABLE ref AS SELECT * FROM read_parquet('{reference}')"
        )
        con.execute(
            f"""CREATE TEMP TABLE leak AS
                SELECT user_id, label_time FROM ref WHERE {v} IS NOT NULL
                ORDER BY hash(user_id, label_time, {seed}) LIMIT {n_leaks}"""
        )
        (got,) = con.execute("SELECT count(*) FROM leak").fetchone()
        if got != n_leaks:
            raise ValueError(f"only {got} rows can carry a planted leak")
        others = [
            c for c in con.execute("SELECT * FROM ref LIMIT 0").fetchdf().columns
            if c not in (v, t)
        ]
        con.execute(
            f"""COPY (
                SELECT {', '.join('r.' + c for c in others)},
                       CASE WHEN k.user_id IS NULL THEN r.{v}
                            ELSE r.{v} + 1.0 END AS {v},
                       CASE WHEN k.user_id IS NULL THEN r.{t}
                            ELSE r.label_time + INTERVAL 1 HOUR END AS {t}
                FROM ref r LEFT JOIN leak k
                  ON r.user_id = k.user_id AND r.label_time = k.label_time
                ORDER BY r.user_id, r.label_time
            ) TO '{path}.tmp' (FORMAT PARQUET)"""
        )
    finally:
        con.close()
    os.replace(path + ".tmp", path)
    return path


# ---------------------------------------------------------------------------
# Corpus
# ---------------------------------------------------------------------------

VOCAB = [
    "the", "and", "of", "to", "in", "a", "is", "that", "for", "it", "with",
    "as", "was", "on", "be", "by", "this", "are", "from", "at", "which",
    "data", "table", "query", "plan", "join", "scan", "index", "cache",
    "memory", "disk", "network", "latency", "throughput", "window", "time",
    "label", "feature", "model", "train", "batch", "stream", "shuffle",
    "partition", "sort", "merge", "hash", "key", "value", "record",
    "engine", "runtime", "compile", "schema", "column", "row", "page",
    "buffer", "thread", "process", "system", "kernel", "vector", "matrix",
    "result", "output", "input", "source", "target", "report", "audit",
]

# Shares of the generated corpus, by kind of planted document.
EXACT_DUP_SHARE = 0.10   # verbatim copies of an original
NEAR_DUP_SHARE = 0.10    # copies of an original with a few words replaced
SHUFFLED_SHARE = 0.05    # an original's words in another order
JUNK_SHARE = 0.10        # texts too short for the Gopher word-count rule
NEAR_DUP_EDITS = 2       # words replaced in a near-duplicate copy
DOC_WORDS = (60, 120)    # words per original document
JUNK_WORDS = (5, 30)     # words per junk document


@dataclass(frozen=True)
class CorpusInputs:
    root: str
    docs: str
    n_docs: int


def corpus_inputs(work: str, n_docs: int, seed: int) -> CorpusInputs:
    """Documents with planted duplicates and junk, so that every stage of
    the cleaning chain keeps some docs but not all: exact copies go at
    ``dedup_exact``, edited copies at ``dedup_near``, short junk at
    ``filter_gopher``, and shuffled copies (same words, so the same
    bag-of-words embedding, but no shared shingles) at
    ``dedup_semantic``."""
    root = os.path.join(work, "inputs", f"corpus_{n_docs}_s{seed}")
    docs = os.path.join(root, "docs.parquet")
    out = CorpusInputs(root, docs, n_docs)
    if os.path.exists(docs):
        return out
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, n_docs])
    vocab = np.array(VOCAB)

    def words(lo_hi: tuple[int, int]) -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), int(rng.integers(*lo_hi)))])

    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_shuffled = int(n_docs * SHUFFLED_SHARE)
    n_junk = int(n_docs * JUNK_SHARE)
    n_orig = n_docs - n_exact - n_near - n_shuffled - n_junk
    originals = [words(DOC_WORDS) for _ in range(n_orig)]
    texts = [" ".join(w) for w in originals]
    for src in rng.integers(0, n_orig, n_exact):
        texts.append(texts[src])
    for src in rng.integers(0, n_orig, n_near):
        w = list(originals[src])
        for pos in rng.integers(0, len(w), NEAR_DUP_EDITS):
            w[pos] = str(vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(w))
    for src in rng.integers(0, n_orig, n_shuffled):
        texts.append(" ".join(rng.permutation(originals[src])))
    texts.extend(" ".join(words(JUNK_WORDS)) for _ in range(n_junk))
    order = rng.permutation(n_docs)
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([texts[i] for i in order]),
        }),
        docs,
    )
    return out
