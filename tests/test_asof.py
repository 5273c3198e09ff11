"""PIT/as-of join correctness vs a DuckDB ROW_NUMBER oracle, both strategies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timefence_spark.operators.asof import asof_join

from tests.conftest import assert_df_equals_sql

DAY = 86400

STRATEGIES = ["join", "union", "union_bucketed"]


def _strategy_kwargs(strategy):
    """'union_bucketed' = the skew-hardened union plan (60d time buckets)."""
    if strategy == "union_bucketed":
        return {"strategy": "union", "skew_bucket": 60 * DAY}
    return {"strategy": strategy}


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _prev_order_feature(spark, sf_dir):
    """One row per (custkey, orderdate): the max total of that day's orders.
    Pre-aggregated so (key, feature_time) is unique -> deterministic pick."""
    return (
        _orders(spark, sf_dir)
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("prev_total"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("feature_time"),
            "prev_total",
        )
    )


def _oracle_sql(upper_op: str, embargo_days: int, lower_days: int) -> str:
    upper = f"l.o_orderdate - INTERVAL {embargo_days} DAY" if embargo_days else "l.o_orderdate"
    return f"""
    WITH feat AS (
        SELECT o_custkey AS user_id, o_orderdate AS feature_time,
               MAX(o_totalprice) AS prev_total
        FROM orders GROUP BY 1, 2
    ), ranked AS (
        SELECT l.o_orderkey, l.o_custkey, l.o_orderdate, l.o_totalprice,
               f.prev_total AS f__prev_total, f.feature_time AS f__feature_time,
               ROW_NUMBER() OVER (
                   PARTITION BY l.o_orderkey ORDER BY f.feature_time DESC
               ) AS rn
        FROM orders l
        LEFT JOIN feat f
          ON f.user_id = l.o_custkey
         AND f.feature_time {upper_op} {upper}
         AND f.feature_time >= l.o_orderdate - INTERVAL {lower_days} DAY
    )
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           f__prev_total, f__feature_time
    FROM ranked WHERE rn = 1
    """


CASES = [
    ("strict_no_embargo", "<", 0, 365, True),
    ("strict_embargo_7d", "<", 7, 365, True),
    ("inclusive_no_embargo", "<=", 0, 365, False),
    ("inclusive_embargo_30d", "<=", 30, 365, False),
    ("tight_lookback_60d", "<", 0, 60, True),
]


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("name,op,embargo_d,lookback_d,strict", CASES)
def test_asof_vs_oracle(spark, sf_dir, oracle, strategy, name, op, embargo_d, lookback_d, strict):
    labels = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    feat = _prev_order_feature(spark, sf_dir)
    out = asof_join(
        labels,
        feat,
        on=[("o_custkey", "user_id")],
        left_time="o_orderdate",
        right_time="feature_time",
        value_cols=["prev_total"],
        prefix="f",
        embargo=embargo_d * DAY,
        lookback=lookback_d * DAY,
        strict=strict,
        **_strategy_kwargs(strategy),
    )
    assert_df_equals_sql(out, oracle, _oracle_sql(op, embargo_d, lookback_d))


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_staleness(spark, sf_dir, oracle, strategy):
    labels = _orders(spark, sf_dir).select("o_orderkey", "o_custkey", "o_orderdate")
    feat = _prev_order_feature(spark, sf_dir)
    out = asof_join(
        labels,
        feat,
        on=[("o_custkey", "user_id")],
        left_time="o_orderdate",
        right_time="feature_time",
        value_cols=["prev_total"],
        prefix="f",
        embargo=0,
        lookback=365 * DAY,
        staleness=90 * DAY,
        strict=True,
        **_strategy_kwargs(strategy),
    )
    sql = """
    WITH feat AS (
        SELECT o_custkey AS user_id, o_orderdate AS feature_time,
               MAX(o_totalprice) AS prev_total
        FROM orders GROUP BY 1, 2
    ), ranked AS (
        SELECT l.o_orderkey, l.o_custkey, l.o_orderdate,
               f.prev_total AS f__prev_total, f.feature_time AS f__feature_time,
               ROW_NUMBER() OVER (
                   PARTITION BY l.o_orderkey ORDER BY f.feature_time DESC
               ) AS rn
        FROM orders l
        LEFT JOIN feat f
          ON f.user_id = l.o_custkey
         AND f.feature_time < l.o_orderdate
         AND f.feature_time >= l.o_orderdate - INTERVAL 365 DAY
         AND f.feature_time >= l.o_orderdate - INTERVAL 90 DAY
    )
    SELECT o_orderkey, o_custkey, o_orderdate, f__prev_total, f__feature_time
    FROM ranked WHERE rn = 1
    """
    assert_df_equals_sql(out, oracle, sql)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_composite_keys(spark, sf_dir, oracle, strategy):
    """Composite (l_partkey, l_suppkey) keys: prior shipment price."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    labels = li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate")
    feat = (
        li.groupBy("l_partkey", "l_suppkey", "l_shipdate")
        .agg(F.max("l_extendedprice").alias("prior_price"))
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_shipdate").alias("feature_time"),
            "prior_price",
        )
    )
    out = asof_join(
        labels,
        feat,
        on=["l_partkey", "l_suppkey"],
        left_time="l_shipdate",
        right_time="feature_time",
        value_cols=["prior_price"],
        prefix="f",
        embargo=0,
        lookback=365 * DAY,
        strict=True,
        **_strategy_kwargs(strategy),
    )
    sql = """
    WITH labels AS (
        SELECT ROW_NUMBER() OVER () AS rid, * FROM lineitem
    ), feat AS (
        SELECT l_partkey, l_suppkey, l_shipdate AS feature_time,
               MAX(l_extendedprice) AS prior_price
        FROM lineitem GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, l.l_shipdate,
               f.prior_price AS f__prior_price, f.feature_time AS f__feature_time,
               ROW_NUMBER() OVER (
                   PARTITION BY l.rid ORDER BY f.feature_time DESC
               ) AS rn
        FROM labels l
        LEFT JOIN feat f
          ON f.l_partkey = l.l_partkey AND f.l_suppkey = l.l_suppkey
         AND f.feature_time < l.l_shipdate
         AND f.feature_time >= l.l_shipdate - INTERVAL 365 DAY
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate,
           f__prior_price, f__feature_time
    FROM ranked WHERE rn = 1
    """
    assert_df_equals_sql(out, oracle, sql)


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_asof_null_keys_match_neither_strategy(spark):
    """SQL equality joins never match NULL keys: a NULL-key label must come
    back unmatched under BOTH strategies, and a NULL-key feature row must
    never be picked (ADVICE r1: Window.partitionBy would otherwise pair
    them under strategy='union')."""
    from datetime import datetime

    labels = spark.createDataFrame(
        [(1, datetime(2024, 1, 10)), (None, datetime(2024, 1, 10))],
        "entity long, label_time timestamp_ntz",
    )
    feats = spark.createDataFrame(
        [(1, datetime(2024, 1, 5), 10.0), (None, datetime(2024, 1, 5), 99.0)],
        "entity long, feature_time timestamp_ntz, score double",
    )
    outs = {}
    for strategy in STRATEGIES:
        out = asof_join(
            labels,
            feats,
            on="entity",
            left_time="label_time",
            right_time="feature_time",
            value_cols=["score"],
            prefix="f",
            strict=True,
            **_strategy_kwargs(strategy),
        )
        outs[strategy] = _sorted_rows(out)
    assert outs["join"] == outs["union"] == outs["union_bucketed"]
    by_entity = {r[0]: r for r in outs["union"]}
    assert by_entity[1][2] == 10.0  # real key matches
    assert by_entity[None][2] is None  # NULL key never matches


@pytest.mark.parametrize("strict", [True, False])
def test_asof_duplicate_ts_tie_break_deterministic(spark, strict):
    """Duplicate (key, feature_time) rows: both strategies must pick the
    SAME row (max payload at the tied max feature_time), across repeated
    runs (mirrors reference test_engine.py:1311-1398)."""
    from datetime import datetime

    t_feat = datetime(2024, 1, 5)
    labels = spark.createDataFrame(
        [(k, datetime(2024, 1, 10)) for k in range(20)],
        "entity long, label_time timestamp_ntz",
    )
    # three rows per key at the SAME feature_time, shuffled payload order
    rows = []
    for k in range(20):
        for i, v in enumerate([5.0, 99.0, 1.0]):
            rows.append((k, t_feat, v, f"tag{i}"))
    feats = spark.createDataFrame(
        rows, "entity long, feature_time timestamp_ntz, score double, tag string"
    ).repartition(8)

    results = []
    for strategy in (*STRATEGIES, *STRATEGIES):
        out = asof_join(
            labels,
            feats,
            on="entity",
            left_time="label_time",
            right_time="feature_time",
            value_cols=["score", "tag"],
            prefix="f",
            strict=strict,
            **_strategy_kwargs(strategy),
        )
        results.append(_sorted_rows(out))
    assert all(r == results[0] for r in results[1:])
    # max payload: score 99.0 wins on every key
    assert all(r[2] == 99.0 for r in results[0])


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_null_feature_time_never_matches(spark, strategy):
    """A feature row with NULL feature_time has unknown availability — it
    must never match under ANY strategy (code-review r2 finding: the union
    window would otherwise propagate it)."""
    from datetime import datetime

    labels = spark.createDataFrame(
        [(1, datetime(2024, 1, 10))], "entity long, label_time timestamp_ntz"
    )
    feats = spark.createDataFrame(
        [(1, None, 99.0), (1, datetime(2024, 1, 5), 10.0)],
        "entity long, feature_time timestamp_ntz, score double",
    )
    out = asof_join(
        labels,
        feats,
        on="entity",
        left_time="label_time",
        right_time="feature_time",
        value_cols=["score"],
        prefix="f",
        strict=True,
        **_strategy_kwargs(strategy),
    ).collect()
    assert len(out) == 1
    assert out[0]["f__score"] == 10.0  # the NULL-time 99.0 row is invisible

    only_null = feats.where(F.col("feature_time").isNull())
    out2 = asof_join(
        labels,
        only_null,
        on="entity",
        left_time="label_time",
        right_time="feature_time",
        value_cols=["score"],
        prefix="f",
        strict=True,
        **_strategy_kwargs(strategy),
    ).collect()
    assert out2[0]["f__score"] is None and out2[0]["f__feature_time"] is None


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_map_payload_supported(spark, strategy):
    """Map-typed feature values are not orderable: the deterministic
    max-payload tie-break must degrade to the reference's keep_any pick
    instead of failing analysis."""
    from datetime import datetime

    labels = spark.createDataFrame(
        [(1, datetime(2024, 1, 10))], "entity long, label_time timestamp_ntz"
    )
    feats = spark.createDataFrame(
        [(1, datetime(2024, 1, 5), {"a": 1}), (1, datetime(2024, 1, 7), {"b": 2})],
        "entity long, feature_time timestamp_ntz, attrs map<string,int>",
    )
    out = asof_join(
        labels,
        feats,
        on="entity",
        left_time="label_time",
        right_time="feature_time",
        value_cols=["attrs"],
        prefix="f",
        strict=True,
        **_strategy_kwargs(strategy),
    ).collect()
    assert len(out) == 1
    assert out[0]["f__attrs"] == {"b": 2}  # latest feature_time wins
    assert out[0]["f__feature_time"] == datetime(2024, 1, 7)


@pytest.mark.parametrize(
    "strict,bucket_s",
    [
        pytest.param(True, None, id="True"),
        pytest.param(False, None, id="False"),
        pytest.param(True, 5 * DAY, id="True-bucketed"),
        pytest.param(False, 5 * DAY, id="False-bucketed"),
    ],
)
def test_pit_match_multi_equals_per_feature(spark, strict, bucket_s):
    """The single-pass multi-feature plan must agree exactly with N
    independent range-join pit_match calls — an independent kernel —
    including MIXED per-feature embargos (multi applies the embargo on the
    feature side, ft + e < lt; the range join shifts the label side,
    ft < lt - e) and, with ``bucket_s``, the per-feature cross-bucket
    carry."""
    import random
    from datetime import datetime, timedelta

    from timefence_spark.operators.asof import ROW_ID, pit_match, pit_match_multi

    rng = random.Random(7)
    t0 = datetime(2024, 1, 1)
    labels_rows = [
        (k, t0 + timedelta(hours=rng.randrange(0, 24 * 60)))
        for k in range(50)
        for _ in range(4)
    ]
    labels = (
        spark.createDataFrame(labels_rows, "entity long, label_time timestamp_ntz")
        .withColumn(ROW_ID, F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    feats = []
    for fi in range(3):
        rows = [
            (
                rng.randrange(0, 50),
                t0 + timedelta(hours=rng.randrange(-24 * 30, 24 * 60)),
                round(rng.uniform(0, 100), 3),
            )
            for _ in range(600)
        ]
        # force duplicate (key, ts) pairs to exercise the tie-break
        rows += [(r[0], r[1], round(r[2] + 1, 3)) for r in rows[:40]]
        feats.append(
            spark.createDataFrame(
                rows, "entity long, feature_time timestamp_ntz, score double"
            )
        )
    embargos = [0, 3600, 7 * 86400]
    lookback = 45 * 86400

    multi = pit_match_multi(
        labels,
        [
            (f"f{fi}", feats[fi], "feature_time", ["score"], embargos[fi])
            for fi in range(3)
        ],
        key_pairs=[("entity", "entity")],
        label_time="label_time",
        lookback_s=lookback,
        strict=strict,
        bucket_s=bucket_s,
    )
    expected = labels.select(ROW_ID)
    for fi in range(3):
        m = pit_match(
            labels,
            feats[fi],
            key_pairs=[("entity", "entity")],
            label_time="label_time",
            value_cols=["score"],
            prefix=f"f{fi}",
            embargo_s=embargos[fi],
            lookback_s=lookback,
            strict=strict,
            strategy="join",
        )
        expected = expected.join(m, ROW_ID, "left")

    got = sorted(tuple(r) for r in multi.collect())
    exp = sorted(tuple(r) for r in expected.select(*multi.columns).collect())
    assert got == exp


def test_bucketed_dup_flags_share_the_window(spark):
    """With ``bucket_s`` the in-window duplicate flags must partition by the
    same (key, bucket) columns as the running frame: flagging adds no
    Window and no Exchange over the bucketed plan (whose carry prefix scan
    is its one extra Window), and planted duplicate groups are counted."""
    from datetime import datetime, timedelta

    from pyspark.sql import Observation

    from timefence_spark.operators.asof import ROW_ID, pit_match_multi
    from timefence_spark.plans import physical_summary

    t0 = datetime(2024, 1, 1)
    labels = spark.createDataFrame(
        [(i % 10, t0 + timedelta(hours=i)) for i in range(100)],
        "entity long, label_time timestamp_ntz",
    ).withColumn(ROW_ID, F.monotonically_increasing_id())
    rows = [(i % 10, t0 + timedelta(hours=i - 2), float(i)) for i in range(100)]
    feat = spark.createDataFrame(
        rows + [(r[0], r[1], r[2] + 0.5) for r in rows[:3]],
        "entity long, feature_time timestamp_ntz, v double",
    )
    kwargs = dict(
        key_pairs=[("entity", "entity")],
        label_time="label_time",
        lookback_s=365 * DAY,
        bucket_s=DAY,
    )
    specs = [("f", feat, "feature_time", ["v"], 3600)]
    plain = pit_match_multi(labels, specs, **kwargs)
    obs = Observation()
    flagged = pit_match_multi(
        labels, specs, dup_track=[True], dup_observation=obs, **kwargs
    )
    s_plain = physical_summary(plain)
    s_flagged = physical_summary(flagged)
    assert (s_flagged.windows, s_flagged.exchanges) == (
        s_plain.windows,
        s_plain.exchanges,
    ), f"dup flags split the window: {s_plain} -> {s_flagged}"
    flagged.count()
    assert int(obs.get["dups_0"]) == 3
