"""The benchmark's workloads: what each one calls, and how it checks.

Each workload runs a closed loop of cycles. A cycle makes the workload's
headline call (``call_s``) and then its companion call (``side_s``); the
output of every timed call is checked before the next one starts. Inputs
come from ``gen`` and are ready before the clock starts.

The traced run adds layer probes after the loop (``probe_layers``): each
public entry point of a layer, run on the workload's own inputs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

import gen
from probes import SPARK_COUNTERS, StatusStore, Tracer

# Shapes. "full" is what the benchmark measures; "tiny" is the smoke mode.
PIT_SHAPES = {"full": (20_000, 6), "tiny": (2_000, 3)}
PLANTED_LEAKS = 25
CORPUS_DOCS = {"full": 400, "tiny": 200}
CORPUS_STAGES = ("dedup_exact", "dedup_near", "filter_gopher", "dedup_semantic")
PROBE_REPEATS = 3

PIT_ONLY_LAYERS = (
    ("engine.prep_s", "s"),
    ("engine.exec_s", "s"),
    ("engine.match_s", "s"),
    ("engine.write_s", "s"),
    ("store.save_build_s", "s"),
    ("store.feature_cache_hit_ratio", "ratio"),
    ("verb.asof_join_s", "s"),
    ("verb.explain_s", "s"),
    ("verb.audit_temporal_s", "s"),
    ("verb.diff_s", "s"),
)
CORPUS_ONLY_LAYERS = (
    ("dedup.exact_s", "s"),
    ("dedup.minhash_s", "s"),
    ("text.gopher_s", "s"),
    ("text.embed_s", "s"),
    ("similarity.semantic_pairs_s", "s"),
    *((f"corpus.keep_ratio.{s}", "ratio") for s in CORPUS_STAGES),
)
SHARED_LAYERS = (
    *((f"{role}.spark.{n}", u) for role in ("call", "side") for n, u in SPARK_COUNTERS),
    ("readers.scan_s", "s"),
    ("readers.input_mb", "MB"),
    ("store.hash_s", "s"),
    ("ref.duckdb_s", "s"),
    ("memory.peak_rss_mb", "MB"),
    ("trace.overhead.call_s", "s"),
    ("trace.overhead.side_s", "s"),
)
# Every traced run reports every per-layer metric. A layer the workload
# does not touch reads 0.
PER_LAYER = (*SHARED_LAYERS, *PIT_ONLY_LAYERS, *CORPUS_ONLY_LAYERS)


@dataclass
class Ctx:
    """What a workload needs from the run that drives it."""

    work: str       # inputs cache; survives the run
    out: str        # this run's outputs; removed when the run ends
    seed: int
    scale: str      # "full" or "tiny"
    fault: str      # "none", "corrupt_build" or "hide_leak" (smoke test only)
    threads: int
    tracer: Tracer
    spark: Any = None
    stats: StatusStore | None = None


@dataclass
class Sample:
    seconds: float
    traced: bool
    counters: dict[str, float] = field(default_factory=dict)
    events: list[tuple[float, str]] = field(default_factory=list)


class Workload:
    """A closed loop of (call, side) cycles with a check after each call."""

    name = ""
    # Call times keep falling over a JVM's first cycles (JIT, codegen), so
    # set-up runs untimed warm-up cycles; every run then times at least
    # min_cycles cycles, whatever --seconds says.
    warm_cycles = 2
    min_cycles = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[Sample]] = {"call": [], "side": []}
        self.layers: dict[str, float] = {}

    # -- accounting ------------------------------------------------------

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Count one attempted operation; a false ``ok`` counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")
        return ok

    def timed(self, role: str, name: str, fn: Callable[[Sample], Any],
              check: Callable[[Any], tuple[bool, str]], traced: bool) -> None:
        """Time ``fn``, then check its result. An exception from either
        counts as a failed operation, and a failed operation's time is not
        kept."""
        ctx = self.ctx
        sample = Sample(0.0, traced)
        with ctx.tracer.span(name, role=role) if traced else nullcontext():
            before = ctx.stats.snapshot() if traced else None
            t0 = time.perf_counter()
            try:
                result = fn(sample)
                sample.seconds = time.perf_counter() - t0
                if traced:
                    sample.counters = ctx.stats.delta(before, sample.seconds)
                with ctx.tracer.span(f"check.{name}") if traced else nullcontext():
                    ok, detail = check(result)
            except Exception as exc:  # a failed call is a result, not a crash
                ok, detail = False, f"{type(exc).__name__}: {exc}"
        if self.check(name, ok, detail):
            self.samples[role].append(sample)

    def progress_cb(self, sample: Sample, traced: bool) -> Callable[[str], None] | None:
        """A ``progress`` callback that stamps each message, when traced."""
        if not traced:
            return None
        t0 = time.perf_counter()

        def cb(msg: str) -> None:
            sample.events.append((time.perf_counter() - t0, msg))
            self.ctx.tracer.event("progress", message=msg)

        return cb

    # -- the loop --------------------------------------------------------

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Set-up before the warm-up cycles; needs the Spark session."""

    def cycle(self, i: int, traced: bool) -> None:
        raise NotImplementedError

    def warm_check(self) -> None:
        """Untimed checks at the end of set-up, after the warm-up cycles."""

    def probe_layers(self) -> None:
        raise NotImplementedError

    # -- results ---------------------------------------------------------

    def median(self, role: str, traced: bool | None = None) -> float | None:
        xs = [s.seconds for s in self.samples[role]
              if traced is None or s.traced == traced]
        return statistics.median(xs) if xs else None

    def per_layer(self) -> dict[str, float]:
        out = {name: 0.0 for name, _ in PER_LAYER}
        for role in ("call", "side"):
            traced = [s for s in self.samples[role] if s.traced]
            for counter, _ in SPARK_COUNTERS:
                vals = [s.counters[counter] for s in traced if s.counters]
                if vals:
                    out[f"{role}.spark.{counter}"] = statistics.median(vals)
            on, off = self.median(role, True), self.median(role, False)
            if on is not None and off is not None:
                out[f"trace.overhead.{role}_s"] = on - off
        out.update(self.layers)
        return out

    def probe(self, layer: str, fn: Callable[[], Any]) -> None:
        """Record the median wall time of a few runs of ``fn`` as ``layer``."""
        times = []
        with self.ctx.tracer.span(f"probe.{layer}"):
            for _ in range(PROBE_REPEATS):
                t0 = time.perf_counter()
                fn()
                times.append(time.perf_counter() - t0)
        self.layers[layer] = statistics.median(times)


def noop_write(df) -> None:
    """Run a DataFrame to completion without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def file_mb(paths: list[str]) -> float:
    return sum(os.path.getsize(p) for p in paths) / 1e6


def _duck(threads: int) -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": threads})


# ---------------------------------------------------------------------------
# pit_build
# ---------------------------------------------------------------------------


class PitBuild(Workload):
    """``tf.build`` of labels x features, then ``tf.audit`` in rebuild mode.

    call: one ``tf.build`` (one key, ``columns`` mode, strict join, 365d
    lookback, no Store, single-file ``.parquet`` output).
    side: one rebuild-mode ``tf.audit`` of the DuckDB reference set's copy
    with planted leaks (the first, untimed warm-up cycle audits the clean
    set).
    """

    name = "pit_build"

    def generate(self) -> None:
        ctx = self.ctx
        n, f = PIT_SHAPES[ctx.scale]
        self.inp = gen.pit_inputs(ctx.work, n, f, ctx.seed)
        self.reference = gen.reference_set(self.inp, ctx.threads)
        self.planted = gen.planted_set(
            self.inp, self.reference, PLANTED_LEAKS, ctx.seed, ctx.threads
        )
        # The smoke test's missed-leak fault: the check expects one leak
        # more than was planted, as if the audit had missed one.
        self.expected_leaks = PLANTED_LEAKS + (ctx.fault == "hide_leak")
        self.ref_digest = self.digest(self.reference)

    def digest(self, path: str) -> tuple[int, int]:
        """Row count and an order-independent hash of keys, label time and
        feature values."""
        cols = ["user_id", "epoch_us(label_time)"] + [
            gen.value_col(i) for i in range(len(self.inp.features))
        ]
        con = _duck(self.ctx.threads)
        try:
            n, h = con.execute(
                f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT) "
                f"FROM read_parquet('{path}')"
            ).fetchone()
        finally:
            con.close()
        return int(n), int(h or 0)

    def prepare(self) -> None:
        import timefence_spark as tf

        inp = self.inp
        self.labels = tf.Labels(
            path=inp.labels, keys="user_id", label_time="label_time",
            target="churned",
        )
        self.features = [
            tf.Feature(
                tf.Source(path=p, keys=["user_id"], timestamp="updated_at"),
                columns=[f"val_{i}"],
                name=f"feature_{i}",
                embargo=f"{inp.embargo_days[i]}d",
            )
            for i, p in enumerate(inp.features)
        ]

    def build(self, output, progress=None, store=None):
        import timefence_spark as tf

        return tf.build(
            self.labels, self.features, output, max_lookback=gen.LOOKBACK,
            join="strict", store=store, progress=progress,
            spark=self.ctx.spark,
        )

    def audit(self, path: str):
        import timefence_spark as tf

        return tf.audit(
            path, self.features,
            keys="user_id", label_time="label_time",
            max_lookback=gen.LOOKBACK, join="strict", spark=self.ctx.spark,
        )

    def cycle(self, i: int, traced: bool) -> None:
        out = os.path.join(self.ctx.out, f"build_{i}.parquet")

        def call(sample: Sample):
            return self.build(out, self.progress_cb(sample, traced))

        def check_build(result) -> tuple[bool, str]:
            try:
                if self.ctx.fault == "corrupt_build":
                    corrupt_one_value(out, gen.value_col(0))
                got = self.digest(out)
                return got == self.ref_digest, f"{got} != reference {self.ref_digest}"
            finally:
                remove(out)
                self.last_manifest = result.manifest

        self.timed("call", "build", call, check_build, traced)

        # The first warm-up cycle audits the clean set; every later cycle,
        # the planted copy.
        planted = i > 0
        path = self.planted if planted else self.reference

        def check_audit(report) -> tuple[bool, str]:
            want = {f"feature_{k}": 0 for k in range(len(self.inp.features))}
            if planted:
                want["feature_0"] = self.expected_leaks
            got = {k: v.leaky_row_count for k, v in report.features.items()}
            return got == want, f"leaky rows {got} != {want}"

        self.timed(
            "side", "audit_rebuild", lambda s: self.audit(path), check_audit, traced
        )

    def probe_layers(self) -> None:
        import timefence_spark as tf
        from timefence_spark.sources.readers import read_parquet

        spark, inp = self.ctx.spark, self.inp
        # Preparation vs execution, from the traced builds' progress events.
        prep, exe = [], []
        for s in self.samples["call"]:
            marks = [t for t, m in s.events if m.startswith("Verifying temporal")]
            if marks:
                prep.append(marks[0])
                exe.append(s.seconds - marks[0])
        if prep:
            self.layers["engine.prep_s"] = statistics.median(prep)
            self.layers["engine.exec_s"] = statistics.median(exe)
        # The match kernel without the sort and the write.
        self.probe("engine.match_s", lambda: self.build(None))
        call_s = self.median("call", False) or self.median("call")
        if call_s is not None:
            self.layers["engine.write_s"] = call_s - self.layers["engine.match_s"]

        files = [inp.labels, *inp.features]
        self.probe("readers.scan_s", lambda: [
            noop_write(read_parquet(spark, p)) for p in files
        ])
        self.layers["readers.input_mb"] = file_mb(files)
        self.probe("store.hash_s", lambda: [tf.Store.content_hash(p) for p in files])

        store = tf.Store(os.path.join(self.ctx.out, "store"))
        self.probe("store.save_build_s", lambda: store.save_build(self.last_manifest))
        stats = []
        for k in range(2):
            res = self.build(os.path.join(self.ctx.out, f"store_{k}.parquet"),
                             store=store)
            stats.append(res.stats.feature_stats)
        hits = [bool(v.get("cached")) for v in stats[-1].values()]
        self.layers["store.feature_cache_hit_ratio"] = sum(hits) / len(hits)
        self.check("store_cache", all(hits), f"second build cached flags {hits}")

        ref_out = os.path.join(self.ctx.out, "duckdb_asof.parquet")

        def duck_asof():
            con = _duck(self.ctx.threads)
            try:
                con.execute(
                    f"COPY ({gen.reference_sql(inp)} ORDER BY l.user_id, "
                    f"l.label_time) TO '{ref_out}' (FORMAT PARQUET)"
                )
            finally:
                con.close()

        self.probe("ref.duckdb_s", duck_asof)
        remove(ref_out)

        self.probe_verbs()

    def probe_verbs(self) -> None:
        """The other public verbs, each checked like a timed call."""
        import timefence_spark as tf
        from pyspark.sql import functions as F

        spark, inp = self.ctx.spark, self.inp
        v0 = gen.value_col(0)
        con = _duck(self.ctx.threads)
        try:
            want_asof = con.execute(
                f"SELECT count(*), count({v0}), sum({v0}), "
                f"sum({v0} * (user_id % 997 + 1)) "
                f"FROM read_parquet('{self.reference}')"
            ).fetchone()
        finally:
            con.close()

        joined = []

        def asof():
            df = tf.asof_join(
                spark.read.parquet(inp.labels),
                spark.read.parquet(inp.features[0]),
                on="user_id", left_time="label_time", right_time="updated_at",
                value_cols=["val_0"], embargo=inp.embargo_days[0] * 86400,
                lookback=gen.LOOKBACK_DAYS * 86400, strict=True,
            )
            noop_write(df)
            joined.append(df)

        self.probe("verb.asof_join_s", asof)
        df = joined[-1]
        val = [c for c in df.columns if c.endswith("val_0")][0]
        got = tuple(df.agg(
            F.count(F.lit(1)), F.count(val), F.sum(val),
            F.sum(F.col(val) * (F.col("user_id") % 997 + 1)),
        ).first())
        self.check("asof_join", got == tuple(want_asof), f"{got} != {want_asof}")

        explained = []
        self.probe("verb.explain_s", lambda: explained.append(
            tf.explain(self.labels, self.features, max_lookback=gen.LOOKBACK,
                       spark=spark)
        ))
        e = explained[-1]
        self.check("explain", e.label_count == inp.n_labels
                   and len(e.plan) == len(inp.features), str(e.label_count))

        n_feat = len(inp.features)
        temporal = []
        self.probe("verb.audit_temporal_s", lambda: temporal.append(tf.audit(
            self.planted,
            feature_time_columns={f"feature_{k}": gen.time_col(k) for k in range(n_feat)},
            label_time="label_time", spark=spark,
        )))
        got = {k: v.leaky_row_count for k, v in temporal[-1].features.items()}
        want = {f"feature_{k}": 0 for k in range(n_feat)}
        want["feature_0"] = self.expected_leaks
        self.check("audit_temporal", got == want, f"{got} != {want}")

        diffs = []
        self.probe("verb.diff_s", lambda: diffs.append(tf.diff(
            self.reference, self.planted, keys="user_id", label_time="label_time",
            spark=spark,
        )))
        got = {k: v["changed_count"] for k, v in diffs[-1].value_changes.items()}
        want = {gen.value_col(0): self.expected_leaks,
                gen.time_col(0): self.expected_leaks}
        self.check("diff", got == want, f"{got} != {want}")


def corrupt_one_value(path: str, column: str) -> None:
    """Rewrite ``path`` with one value of ``column`` changed (smoke test)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    i = t.schema.get_field_index(column)
    col = t.column(i).combine_chunks()
    first = pc.index(pc.is_valid(col), True).as_py()
    vals = col.to_pylist()
    vals[first] += 1.0
    pq.write_table(t.set_column(i, column, [vals]), path)


def remove(path: str) -> None:
    """Remove an output, whether the engine left a file or a directory."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


# ---------------------------------------------------------------------------
# corpus_clean
# ---------------------------------------------------------------------------


class CorpusClean(Workload):
    """The corpus cleaning chain, then exact dedup on its own.

    call: ``Corpus(docs).dedup_exact().dedup_near().filter_gopher()``, then
    ``embed()`` and ``dedup_semantic()``, written to parquet.
    side: ``Corpus(docs).dedup_exact()``, counted.
    """

    name = "corpus_clean"
    warm_cycles = 1  # warm_check runs every stage once more
    # The side call takes a fraction of a second, so one sample per cycle
    # would leave its median to a handful of noisy samples.
    side_repeats = 5

    def generate(self) -> None:
        ctx = self.ctx
        self.inp = gen.corpus_inputs(ctx.work, CORPUS_DOCS[ctx.scale], ctx.seed)
        con = _duck(ctx.threads)
        try:
            (self.distinct_texts,) = con.execute(
                f"SELECT count(DISTINCT text) FROM read_parquet('{self.inp.docs}')"
            ).fetchone()
        finally:
            con.close()

    def docs(self):
        import timefence_spark as tf

        df = self.ctx.spark.read.parquet(self.inp.docs)
        return tf.Corpus(df, id_col="doc_id", text_col="text")

    def stages(self, corpus) -> list:
        """The chain's successive corpora, input first."""
        out = [corpus]
        out.append(out[-1].dedup_exact())
        out.append(out[-1].dedup_near())
        out.append(out[-1].filter_gopher())
        out.append(out[-1].dedup_semantic(out[-1].embed()))
        return out

    def cycle(self, i: int, traced: bool) -> None:
        out = os.path.join(self.ctx.out, f"corpus_{i}")

        def call(sample: Sample):
            self.stages(self.docs())[-1].write(out)

        def check_chain(_) -> tuple[bool, str]:
            try:
                return self.check_survivors(out)
            finally:
                remove(out)

        self.timed("call", "corpus_chain", call, check_chain, traced)
        for _ in range(self.side_repeats):
            self.timed(
                "side", "dedup_exact", lambda s: self.docs().dedup_exact().df.count(),
                lambda n: (n == self.distinct_texts,
                           f"{n} survivors != {self.distinct_texts} distinct texts"),
                traced,
            )

    def check_survivors(self, out: str) -> tuple[bool, str]:
        """Survivors are a non-empty subset of the input, with no two
        sharing identical text."""
        con = _duck(self.ctx.threads)
        try:
            n, distinct, foreign = con.execute(
                f"""SELECT count(*), count(DISTINCT o.text),
                           count(*) FILTER (WHERE i.doc_id IS NULL)
                    FROM read_parquet('{out}/*.parquet') o
                    LEFT JOIN read_parquet('{self.inp.docs}') i
                      ON o.doc_id = i.doc_id AND o.text = i.text"""
            ).fetchone()
        finally:
            con.close()
        ok = 0 < n == distinct and foreign == 0
        return ok, f"{n} survivors, {distinct} distinct, {foreign} not in input"

    def warm_check(self) -> None:
        """Every stage keeps some docs but not all. Running each stage on
        its own also serves as the second warm-up cycle."""
        cached = []
        try:
            counts = []
            for c in self.stages(self.docs()):
                c.df.persist()
                cached.append(c.df)
                counts.append(c.df.count())
        finally:
            for df in cached:
                df.unpersist()
        self.keep = {
            stage: counts[k + 1] / counts[k] for k, stage in enumerate(CORPUS_STAGES)
        }
        self.check("keep_ratios", all(0 < r < 1 for r in self.keep.values()),
                   f"a stage kept all or nothing: {self.keep}")

    def probe_layers(self) -> None:
        import timefence_spark as tf
        from timefence_spark.sources.readers import read_parquet

        spark = self.ctx.spark
        for stage, r in self.keep.items():
            self.layers[f"corpus.keep_ratio.{stage}"] = r
        # Each operator on its stage's materialized input.
        inputs = [c.df.persist() for c in self.stages(self.docs())[:4]]
        try:
            for df in inputs:
                df.count()
            corpora = [tf.Corpus(df, id_col="doc_id", text_col="text") for df in inputs]
            emb = corpora[3].embed().persist()
            emb.count()
            self.probe("dedup.exact_s", lambda: noop_write(corpora[0].dedup_exact().df))
            self.probe("dedup.minhash_s", lambda: noop_write(corpora[1].dedup_near().df))
            self.probe("text.gopher_s", lambda: noop_write(corpora[2].filter_gopher().df))
            self.probe("text.embed_s", lambda: noop_write(corpora[3].embed()))
            self.probe("similarity.semantic_pairs_s", lambda: noop_write(
                tf.similarity.semantic_dup_pairs(emb, id_col="doc_id")
            ))
            emb.unpersist()
        finally:
            for df in inputs:
                df.unpersist()

        files = [self.inp.docs]
        self.probe("readers.scan_s", lambda: noop_write(read_parquet(spark, files[0])))
        self.layers["readers.input_mb"] = file_mb(files)
        self.probe("store.hash_s", lambda: tf.Store.content_hash(files[0]))
        ref_out = os.path.join(self.ctx.out, "duckdb_dedup.parquet")

        def duck_dedup():
            con = _duck(self.ctx.threads)
            try:
                con.execute(
                    f"COPY (SELECT min(doc_id) AS doc_id, text FROM "
                    f"read_parquet('{files[0]}') GROUP BY text) "
                    f"TO '{ref_out}' (FORMAT PARQUET)"
                )
            finally:
                con.close()

        self.probe("ref.duckdb_s", duck_dedup)
        remove(ref_out)


WORKLOADS = {w.name: w for w in (PitBuild, CorpusClean)}
