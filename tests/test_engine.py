"""Engine behavior tests: build lifecycle, knobs, audit, diff, store.

Mirrors the reference test strategy (SURVEY §5, tests/test_engine.py):
temporal invariant per mode, param validation, schema errors, splits,
flatten conflicts, on_missing, caching, empty/single-row labels.
"""

from __future__ import annotations

import datetime as dt
import warnings

import pytest
from pyspark.sql import functions as F

import timefence_spark as tf
from timefence_spark.errors import (
    TimefenceConfigError,
    TimefenceDuplicateError,
    TimefenceLeakageError,
    TimefenceSchemaError,
)


@pytest.fixture()
def users_feat_labels(spark, tmp_path):
    """Reference conftest trio (FIXTURES.md §1): users / transactions / labels."""
    users = spark.createDataFrame(
        [
            (
                i,
                ["US", "UK", "DE"][i % 3],
                dt.datetime(2023, 1, 1) + dt.timedelta(days=i * 3),
            )
            for i in range(1, 101)
        ],
        "user_id int, country string, updated_at timestamp_ntz",
    )
    txns = spark.createDataFrame(
        [
            (
                ((i - 1) % 100) + 1,
                dt.datetime(2023, 1, 1)
                + dt.timedelta(days=(i * 7) % 365, hours=(i * 3) % 24),
                round((10 + (i * 17) % 200) / 10.0, 2),
            )
            for i in range(1, 2001)
        ],
        "user_id int, created_at timestamp_ntz, amount double",
    )
    labels = spark.createDataFrame(
        [
            (
                i,
                dt.datetime(2024, 1, 15) + dt.timedelta(days=i * 5),
                i % 4 == 0,
            )
            for i in range(1, 51)
        ],
        "user_id int, label_time timestamp_ntz, churned boolean",
    )
    users_path = str(tmp_path / "users.parquet")
    txns_path = str(tmp_path / "txns.parquet")
    labels_path = str(tmp_path / "labels.parquet")
    users.coalesce(1).write.parquet(users_path)
    txns.coalesce(1).write.parquet(txns_path)
    labels.coalesce(1).write.parquet(labels_path)
    return users_path, txns_path, labels_path


def _country_feature(users_path):
    return tf.Feature(
        tf.Source(users_path, keys="user_id", timestamp="updated_at"),
        columns="country",
        name="user_country",
    )


def _spend_feature(txns_path, embargo="1d"):
    return tf.Feature(
        tf.Source(txns_path, keys="user_id", timestamp="created_at"),
        sql="""
            SELECT user_id, created_at AS feature_time,
                   SUM(amount) OVER (
                       PARTITION BY user_id ORDER BY created_at
                       RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
                   ) AS spend_30d
            FROM {source}
        """,
        name="rolling_spend",
        embargo=embargo,
        on_duplicate="keep_any",
    )


def _labels(labels_path):
    return tf.Labels(
        path=labels_path, keys="user_id", label_time="label_time", target="churned"
    )


def test_build_basics_and_invariant(spark, tmp_path, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    out = str(tmp_path / "train.parquet")
    res = tf.build(
        _labels(labels_path),
        [_country_feature(users_path), _spend_feature(txns_path)],
        out,
        spark=spark,
    )
    assert res.stats.row_count == 50
    assert res.validate()  # post-build verification passed
    got = spark.read.parquet(out)
    assert set(got.columns) == {
        "user_id",
        "label_time",
        "churned",
        "user_country__country",
        "rolling_spend__spend_30d",
    }
    assert got.count() == 50
    # users snapshots are all >365d older than their labels -> out of lookback
    assert res.manifest["features"]["user_country"]["missing_rows"] == 50
    assert res.manifest["features"]["rolling_spend"]["matched_rows"] > 0


@pytest.mark.parametrize("join_mode", ["strict", "inclusive"])
def test_temporal_invariant_modes(spark, tmp_path, users_feat_labels, join_mode):
    """Every matched feature_time must satisfy the invariant — checked by
    rebuilding through audit (build output lacks __feature_time by design)."""
    users_path, txns_path, labels_path = users_feat_labels
    out = str(tmp_path / f"train_{join_mode}.parquet")
    res = tf.build(
        _labels(labels_path),
        [_spend_feature(txns_path, embargo="2d")],
        out,
        join=join_mode,
        spark=spark,
    )
    assert res.validate()
    report = tf.audit(
        out,
        [_spend_feature(txns_path, embargo="2d")],
        keys="user_id",
        label_time="label_time",
        join=join_mode,
        spark=spark,
    )
    assert not report.has_leakage


def test_param_validation(spark, users_feat_labels):
    users_path, _, labels_path = users_feat_labels
    with pytest.raises(TimefenceConfigError, match="join must be"):
        tf.build(_labels(labels_path), [_country_feature(users_path)], join="outer", spark=spark)
    with pytest.raises(TimefenceConfigError, match="on_missing"):
        tf.build(
            _labels(labels_path),
            [_country_feature(users_path)],
            on_missing="drop",
            spark=spark,
        )
    with pytest.raises(TimefenceConfigError, match="embargo"):
        feat = tf.Feature(
            tf.Source(users_path, keys="user_id", timestamp="updated_at"),
            columns="country",
            embargo="400d",
        )
        tf.build(_labels(labels_path), [feat], max_lookback="365d", spark=spark)
    with pytest.raises(TimefenceConfigError, match="max_staleness"):
        feat = tf.Feature(
            tf.Source(users_path, keys="user_id", timestamp="updated_at"),
            columns="country",
            embargo="10d",
        )
        tf.build(_labels(labels_path), [feat], max_staleness="5d", spark=spark)


def test_unknown_strategy_rejected_before_spark_work(spark, tmp_path, users_feat_labels):
    """An unknown as-of strategy is a config error raised before any Spark
    work: the labels path does not exist, so touching it would raise a
    different error, and explain() never reports the bogus name as a plan."""
    users_path, _, _ = users_feat_labels
    missing = _labels(str(tmp_path / "no_such_labels.parquet"))
    for verb in (tf.build, tf.explain):
        with pytest.raises(TimefenceConfigError, match="strategy must be"):
            verb(missing, [_country_feature(users_path)], strategy="bogus", spark=spark)


def test_duplicate_feature_names(spark, users_feat_labels):
    users_path, _, labels_path = users_feat_labels
    f1 = _country_feature(users_path)
    f2 = _country_feature(users_path)
    with pytest.raises(TimefenceConfigError, match="Duplicate feature names"):
        tf.build(_labels(labels_path), [f1, f2], spark=spark)
    f3 = tf.Feature(
        tf.Source(users_path, keys="user_id", timestamp="updated_at"),
        columns="country",
        name="a b",
    )
    f4 = tf.Feature(
        tf.Source(users_path, keys="user_id", timestamp="updated_at"),
        columns="country",
        name="a.b",
    )
    with pytest.raises(TimefenceConfigError, match="collide after sanitization"):
        tf.build(_labels(labels_path), [f3, f4], spark=spark)


def test_schema_errors(spark, users_feat_labels):
    users_path, _, labels_path = users_feat_labels
    feat = tf.Feature(
        tf.Source(users_path, keys="customer_id", timestamp="updated_at"),
        columns="country",
        name="f",
    )
    with pytest.raises(TimefenceSchemaError, match="missing required key"):
        tf.build(_labels(labels_path), [feat], spark=spark)
    feat2 = tf.Feature(
        tf.Source(users_path, keys="user_id", timestamp="nope"),
        columns="country",
        name="f2",
    )
    with pytest.raises(TimefenceSchemaError, match="timestamp column"):
        tf.build(_labels(labels_path), [feat2], spark=spark)


def test_on_missing_skip(spark, tmp_path, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    out = str(tmp_path / "skip.parquet")
    res = tf.build(
        _labels(labels_path),
        [_spend_feature(txns_path)],
        out,
        on_missing="skip",
        max_lookback="30d",
        spark=spark,
    )
    got = spark.read.parquet(out)
    assert got.where(F.col("rolling_spend__spend_30d").isNull()).count() == 0
    assert res.stats.row_count == got.count()


def test_flatten_columns(spark, tmp_path, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    out = str(tmp_path / "flat.parquet")
    tf.build(
        _labels(labels_path),
        [_country_feature(users_path), _spend_feature(txns_path)],
        out,
        flatten_columns=True,
        spark=spark,
    )
    got = spark.read.parquet(out)
    assert "country" in got.columns and "spend_30d" in got.columns


def test_flatten_collision_keeps_prefixes(spark, tmp_path, users_feat_labels):
    users_path, _, labels_path = users_feat_labels
    f1 = _country_feature(users_path)
    f2 = tf.Feature(
        tf.Source(users_path, keys="user_id", timestamp="updated_at"),
        columns={"country": "country"},
        name="c2",
    )
    out = str(tmp_path / "flatcol.parquet")
    tf.build(_labels(labels_path), [f1, f2], out, flatten_columns=True, spark=spark)
    got = spark.read.parquet(out)
    assert "user_country__country" in got.columns and "c2__country" in got.columns


def test_splits(spark, tmp_path, users_feat_labels):
    users_path, _, labels_path = users_feat_labels
    out = str(tmp_path / "split.parquet")
    res = tf.build(
        _labels(labels_path),
        [_country_feature(users_path)],
        out,
        splits={
            "train": ("2024-01-01", "2024-04-01"),
            "test": ("2024-04-01", "2024-12-31"),
        },
        spark=spark,
    )
    assert set(res.splits) == {"train", "test"}
    train = spark.read.parquet(str(res.splits["train"]))
    test = spark.read.parquet(str(res.splits["test"]))
    assert train.count() + test.count() <= 50
    assert train.agg(F.max("label_time")).first()[0] < dt.datetime(2024, 4, 1)
    # Each split file is sorted like the single-file output.
    for path in res.splits.values():
        rows = [(r["user_id"], r["label_time"]) for r in spark.read.parquet(str(path)).collect()]
        assert rows == sorted(rows)

    # Labels run 2024-01-20 .. 2024-09-21: splits that cover neither end
    # warn about both, from the range the build's own action observed.
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        res = tf.build(
            _labels(labels_path),
            [_country_feature(users_path)],
            str(tmp_path / "narrow.parquet"),
            splits={"mid": ("2024-03-01", "2024-06-01")},
            spark=spark,
        )
    coverage = {str(w.message): w.filename for w in caught if "Splits" in str(w.message)}
    assert coverage == {
        "Splits start at 2024-03-01 but labels start at 2024-01-20 00:00:00.": __file__,
        "Splits end at 2024-06-01 but labels extend to 2024-09-21 00:00:00.": __file__,
    }
    assert spark.read.parquet(str(res.splits["mid"])).count() > 0


def test_split_overlap_error(spark, users_feat_labels):
    """Split ranges are checked before any Spark work: the overlap error
    comes first even when the labels path does not exist."""
    users_path, _, _ = users_feat_labels
    with pytest.raises(TimefenceConfigError, match="overlap"):
        tf.build(
            _labels("/nonexistent/labels.parquet"),
            [_country_feature(users_path)],
            "/tmp/never.parquet",
            splits={
                "a": ("2024-01-01", "2024-06-01"),
                "b": ("2024-05-01", "2024-12-31"),
            },
            spark=spark,
        )


def test_duplicate_detection_error_and_keep_any(spark, tmp_path):
    dup = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0), (1, dt.datetime(2024, 1, 1), 2.0)],
        "user_id int, ts timestamp_ntz, v double",
    )
    p = str(tmp_path / "dup.parquet")
    dup.coalesce(1).write.parquet(p)
    labels = tf.Labels(
        df=spark.createDataFrame(
            [(1, dt.datetime(2024, 2, 1), True)],
            "user_id int, label_time timestamp_ntz, y boolean",
        ),
        keys="user_id",
        label_time="label_time",
        target="y",
    )
    feat_err = tf.Feature(
        tf.Source(p, keys="user_id", timestamp="ts"), columns="v", name="f"
    )
    feat_ok = tf.Feature(
        tf.Source(p, keys="user_id", timestamp="ts"),
        columns="v",
        name="f",
        on_duplicate="keep_any",
    )
    # Skew-bucketed builds count duplicates in the same window pass.
    for skew_bucket in (None, "30d"):
        with pytest.raises(TimefenceDuplicateError):
            tf.build(labels, [feat_err], spark=spark, skew_bucket=skew_bucket)
        # With an output path the in-window duplicate count lands with the
        # write action, which writes to a staging path: the error must
        # abort the build, create no output, and leave an earlier output
        # byte-identical.
        out = tmp_path / f"dup_out_{skew_bucket}.parquet"
        with pytest.raises(TimefenceDuplicateError):
            tf.build(labels, [feat_err], str(out), spark=spark, skew_bucket=skew_bucket)
        assert not out.exists()
        prev = tmp_path / f"prev_out_{skew_bucket}.parquet"
        prev.write_bytes(b"an earlier build's output")
        with pytest.raises(TimefenceDuplicateError):
            tf.build(labels, [feat_err], str(prev), spark=spark, skew_bucket=skew_bucket)
        assert prev.read_bytes() == b"an earlier build's output"
        assert not list(tmp_path.glob(".*staging*"))
        # keep_any resolves the tie deterministically: max payload wins;
        # its warning points at this file whether the in-window policy
        # (union) or the standalone check (join) raised it.
        for strategy in ("union", "join"):
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                res = tf.build(
                    labels, [feat_ok], spark=spark, skew_bucket=skew_bucket,
                    strategy=strategy,
                )
            assert [r["f__v"] for r in res.dataframe.collect()] == [2.0]
            dup_warnings = [w for w in caught if "keep_any" in str(w.message)]
            assert dup_warnings, [str(w.message) for w in caught]
            assert {w.filename for w in dup_warnings} == {__file__}


def test_duplicate_detection_null_key_rows(spark, tmp_path):
    """Duplicate (key, ts) groups whose key or timestamp is NULL never
    enter the union window (NULL keys and times cannot match), so the
    in-window counter is blind to them. The build observes each feature
    table's NULL-key/NULL-time rows in its one action and aggregates the
    NULL subset only when there are some: a NULL duplicate group must
    still raise exactly like the classic standalone check (SQL GROUP BY
    groups NULLs), and NULL rows without a duplicate must not."""
    d1, d2, d3 = (dt.datetime(2024, 1, day) for day in (1, 2, 3))
    cases = {
        "null_key_dup": ([(None, d1, 1.0), (None, d1, 2.0), (1, d2, 3.0)], True),
        "null_ts_dup": ([(1, None, 1.0), (1, None, 2.0), (1, d2, 3.0)], True),
        "null_key_no_dup": ([(None, d1, 1.0), (None, d2, 2.0), (1, d3, 3.0)], False),
    }
    labels = tf.Labels(
        df=spark.createDataFrame(
            [(1, dt.datetime(2024, 2, 1), True)],
            "user_id int, label_time timestamp_ntz, y boolean",
        ),
        keys="user_id",
        label_time="label_time",
        target="y",
    )
    for name, (rows, has_dup) in cases.items():
        p = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, "user_id int, ts timestamp_ntz, v double").coalesce(
            1
        ).write.parquet(p)
        feat = tf.Feature(
            tf.Source(p, keys="user_id", timestamp="ts"), columns="v", name="f"
        )
        for output in (None, str(tmp_path / f"{name}_out.parquet")):
            if has_dup:
                with pytest.raises(TimefenceDuplicateError):
                    tf.build(labels, [feat], output, spark=spark)
                assert not (tmp_path / f"{name}_out.parquet").exists()
            else:
                res = tf.build(labels, [feat], output, spark=spark)
                assert res.stats.row_count == 1
                assert [r["f__v"] for r in res.dataframe.collect()] == [3.0]
    feat_ok = tf.Feature(
        tf.Source(str(tmp_path / "null_key_dup.parquet"), keys="user_id", timestamp="ts"),
        columns="v",
        name="f",
        on_duplicate="keep_any",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = tf.build(labels, [feat_ok], spark=spark)
    assert res.stats.row_count == 1


def test_empty_and_single_row_labels(spark, tmp_path, users_feat_labels):
    users_path, _, _ = users_feat_labels
    empty = spark.createDataFrame(
        [], "user_id int, label_time timestamp_ntz, y boolean"
    )
    res = tf.build(
        tf.Labels(df=empty, keys="user_id", label_time="label_time", target="y"),
        [_country_feature(users_path)],
        str(tmp_path / "empty.parquet"),
        spark=spark,
    )
    assert res.stats.row_count == 0 and res.validate()
    single = spark.createDataFrame(
        [(5, dt.datetime(2024, 6, 1), True)],
        "user_id int, label_time timestamp_ntz, y boolean",
    )
    res = tf.build(
        tf.Labels(df=single, keys="user_id", label_time="label_time", target="y"),
        [_country_feature(users_path)],
        spark=spark,
    )
    assert res.stats.row_count == 1


def test_transform_mode(spark, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels

    def txn_count(spark_session, src_df):
        return src_df.groupBy("user_id", F.col("created_at").alias("feature_time")).agg(
            F.count(F.lit(1)).alias("n_txn")
        )

    feat = tf.Feature(
        tf.Source(txns_path, keys="user_id", timestamp="created_at"),
        transform=txn_count,
        on_duplicate="keep_any",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = tf.build(_labels(labels_path), [feat], spark=spark)
    assert res.validate()
    assert "txn_count" in res.manifest["features"]


def test_spine_rowid_survives_cache_eviction_mid_build(
    spark, tmp_path, users_feat_labels
):
    """The spine rowid must be pinned against recomputation, not just
    cached: evict every cached dataset mid-build (between feature-table
    computation and the recombination join) and assert the output is
    byte-identical to an undisturbed build. With a persist()-only pin this
    protection is one cache eviction away from silent id reassignment;
    localCheckpoint truncates lineage so there is nothing to recompute."""
    users_path, txns_path, labels_path = users_feat_labels

    def evicting_country(spark_session, src_df):
        # Runs while the build is in flight, after the spine was pinned.
        spark_session.catalog.clearCache()
        return src_df.select(
            "user_id", F.col("updated_at").alias("feature_time"), "country"
        )

    evicting_feat = tf.Feature(
        tf.Source(users_path, keys="user_id", timestamp="updated_at"),
        transform=evicting_country,
        name="user_country",
    )
    out_d = str(tmp_path / "disturbed.parquet")
    out_c = str(tmp_path / "clean.parquet")
    disturbed = tf.build(
        _labels(labels_path),
        [evicting_feat, _spend_feature(txns_path)],
        out_d,
        spark=spark,
    )
    tf.build(
        _labels(labels_path),
        [_country_feature(users_path), _spend_feature(txns_path)],
        out_c,
        spark=spark,
    )
    key = lambda r: tuple(str(v) for v in r)
    got_d = sorted(map(key, spark.read.parquet(out_d).collect()))
    got_c = sorted(map(key, spark.read.parquet(out_c).collect()))
    assert got_d == got_c
    assert disturbed.validate()


def test_csv_source(spark, tmp_path, users_feat_labels):
    _, _, labels_path = users_feat_labels
    csv_path = tmp_path / "users.csv"
    csv_path.write_text(
        "user_id;country;updated_at\n"
        + "\n".join(
            f"{i};C{i % 3};2023-06-0{1 + i % 9} 00:00:00" for i in range(1, 51)
        )
    )
    feat = tf.Feature(
        tf.CSVSource(str(csv_path), keys="user_id", timestamp="updated_at", delimiter=";"),
        columns="country",
        name="csv_country",
        on_duplicate="keep_any",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = tf.build(_labels(labels_path), [feat], spark=spark)
    assert res.validate()


def test_tz_mismatch_error(spark, users_feat_labels):
    users_path, _, _ = users_feat_labels
    aware_labels = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), True)],
        "user_id int, label_time timestamp, y boolean",  # tz-aware
    )
    with pytest.raises(tf.errors.TimefenceTimezoneError):
        tf.build(
            tf.Labels(df=aware_labels, keys="user_id", label_time="label_time", target="y"),
            [_country_feature(users_path)],  # users updated_at is NTZ
            spark=spark,
        )


def test_audit_temporal_detects_planted_leak(spark, users_feat_labels):
    _, _, labels_path = users_feat_labels
    leaky = (
        spark.read.parquet(labels_path)
        .withColumn("f__feature_time", F.col("label_time") + F.expr("INTERVAL 2 DAYS"))
    )
    report = tf.audit(
        leaky,
        feature_time_columns={"f": "f__feature_time"},
        label_time="label_time",
        spark=spark,
    )
    assert report.has_leakage
    detail = report["f"]
    assert detail.leaky_row_count == 50
    assert detail.max_leakage == dt.timedelta(days=2)
    assert detail.median_leakage == dt.timedelta(days=2)
    assert detail.severity == "HIGH"  # 100% leaky rows > 5% threshold
    with pytest.raises(TimefenceLeakageError):
        report.assert_clean()


def test_audit_rebuild_detects_wrong_values(spark, tmp_path, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    out = str(tmp_path / "ok.parquet")
    tf.build(_labels(labels_path), [_spend_feature(txns_path)], out, spark=spark)
    # corrupt: bump every matched value by 100 -> rebuild must flag them
    bad = spark.read.parquet(out).withColumn(
        "rolling_spend__spend_30d", F.col("rolling_spend__spend_30d") + 100.0
    )
    bad_path = str(tmp_path / "bad.parquet")
    bad.coalesce(1).write.parquet(bad_path)
    report = tf.audit(
        bad_path,
        [_spend_feature(txns_path)],
        keys="user_id",
        label_time="label_time",
        spark=spark,
    )
    assert report.has_leakage
    assert report["rolling_spend"].leaky_row_count > 0


def test_diff(spark, tmp_path, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    out1 = str(tmp_path / "d1.parquet")
    out2 = str(tmp_path / "d2.parquet")
    tf.build(_labels(labels_path), [_spend_feature(txns_path)], out1, spark=spark)
    doubled = tf.Feature(
        tf.Source(txns_path, keys="user_id", timestamp="created_at"),
        sql="""
            SELECT user_id, created_at AS feature_time,
                   SUM(amount * 2) OVER (
                       PARTITION BY user_id ORDER BY created_at
                       RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
                   ) AS spend_30d
            FROM {source}
        """,
        name="rolling_spend",
        embargo="1d",
        on_duplicate="keep_any",
    )
    tf.build(
        _labels(labels_path),
        [doubled, _country_feature(users_path)],
        out2,
        spark=spark,
    )
    d = tf.diff(out1, out2, keys="user_id", label_time="label_time", spark=spark)
    assert d.old_rows == d.new_rows == 50
    added = [c["column"] for c in d.schema_changes if c["type"] == "+"]
    assert "user_country__country" in added
    assert "rolling_spend__spend_30d" in d.value_changes


def test_diff_pct_uses_matched_rows(spark, tmp_path):
    """changed_pct divides by the rows the comparison actually saw (the
    inner join on keys + label_time), not min(old_rows, new_rows): datasets
    sharing few keys would otherwise overstate every percentage."""
    ts = dt.datetime(2024, 1, 1)
    old = spark.createDataFrame(
        [(i, ts, float(i)) for i in range(10)],
        "user_id int, label_time timestamp, v double",
    )
    # Only user_ids 8 and 9 overlap; both overlapping values change.
    new = spark.createDataFrame(
        [(i, ts, float(i) + 5.0) for i in range(8, 20)],
        "user_id int, label_time timestamp, v double",
    )
    p_old, p_new = str(tmp_path / "old.parquet"), str(tmp_path / "new.parquet")
    old.write.parquet(p_old)
    new.write.parquet(p_new)
    d = tf.diff(p_old, p_new, keys="user_id", label_time="label_time", spark=spark)
    assert d.old_rows == 10 and d.new_rows == 12
    assert d.matched_rows == 2
    assert d.value_changes["v"]["changed_count"] == 2
    # 2 of 2 matched rows changed -> 100%, not 2/10 = 20%.
    assert d.value_changes["v"]["changed_pct"] == pytest.approx(1.0)


def test_read_parquet_int96_timestamps(spark, tmp_path):
    """Spark's default TIMESTAMP_LTZ parquet output is INT96, which pyarrow
    reports as timestamp[ns]; the reader must not apply the nanosAsLong
    rewrite to it (regression: `ts div 1000` on a TIMESTAMP column fails
    analysis)."""
    from timefence_spark.sources.readers import read_parquet

    p = str(tmp_path / "ltz.parquet")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 3, 4, 5))], "id int, ts timestamp"
    ).write.parquet(p)
    df = read_parquet(spark, p)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.count() == 1


def test_store_cache_roundtrip(spark, tmp_path, users_feat_labels):
    users_path, _, labels_path = users_feat_labels
    store = tf.Store(tmp_path / "store")
    out = str(tmp_path / "cached.parquet")
    res1 = tf.build(
        _labels(labels_path), [_country_feature(users_path)], out, store=store, spark=spark
    )
    assert not res1.stats.feature_stats["user_country"]["cached"]
    res2 = tf.build(
        _labels(labels_path), [_country_feature(users_path)], out, store=store, spark=spark
    )
    assert res2.sql == "-- cached build"  # build-level cache hit
    assert res2.stats.row_count == res1.stats.row_count
    assert len(store.list_builds()) == 1


def test_explain(spark, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    res = tf.explain(
        _labels(labels_path),
        [_country_feature(users_path), _spend_feature(txns_path, embargo="1d")],
        spark=spark,
    )
    assert res.label_count == 50
    assert len(res.plan) == 2
    s = str(res)
    assert "user_country" in s and "rolling_spend" in s and "1d" in s


def test_build_result_carries_physical_plans(spark, tmp_path, users_feat_labels):
    """VERDICT r1 item 7: BuildResult exposes the Catalyst physical summary
    per feature join (the Spark analogue of the reference's executed-SQL
    transcript), and the manifest records the strategy actually chosen."""
    users_path, txns_path, labels_path = users_feat_labels
    res = tf.build(
        _labels(labels_path),
        [_country_feature(users_path)],
        str(tmp_path / "pp.parquet"),
        spark=spark,
    )
    assert "user_country" in res.physical_plans
    assert "exchanges=" in res.physical_plans["user_country"]
    assert "-- physical[user_country]" in res.explain()
    assert res.manifest["features"]["user_country"]["strategy"] == "union"


def test_explain_reflects_strategy_choice(spark, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    auto = tf.explain(_labels(labels_path), [_country_feature(users_path)], spark=spark)
    assert "union-asof" in auto.plan[0]["strategy"]
    forced = tf.explain(
        _labels(labels_path),
        [_country_feature(users_path)],
        strategy="join",
        spark=spark,
    )
    assert "range join" in forced.plan[0]["strategy"]


def test_sqlsource_connection_runs_in_duckdb(spark, tmp_path, users_feat_labels):
    """SQLSource(connection=...) executes DuckDB SQL against the attached
    database file (reference core.py:110-149 semantics) and stages the
    result for Spark — full build goes through it."""
    import duckdb

    from timefence_spark.core import SQLSource

    users_path, _, labels_path = users_feat_labels
    db = str(tmp_path / "feat.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE users AS "
        f"SELECT * FROM read_parquet('{users_path}/*.parquet')"
    )
    con.close()

    src = SQLSource(
        # DuckDB dialect on purpose: read from the attached DB's own table.
        "SELECT user_id, updated_at, upper(country) AS country FROM users",
        keys="user_id",
        timestamp="updated_at",
        name="duck_users",
        connection=db,
    )
    feat = tf.Feature(
        source=src, columns={"country": "duck_country"}, name="duck_country"
    )
    out = str(tmp_path / "duck_out.parquet")
    # Fixture gaps exceed the default 365d max_lookback; widen it so every
    # label row finds its (single) history row.
    res = tf.build(
        _labels(labels_path), [feat], out, max_lookback="10000d", spark=spark
    )
    assert res.stats.row_count == 50
    got = {
        r["user_id"]: r["duck_country__duck_country"]
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == 50
    # Every row matches and carries the DuckDB-side upper() transform.
    assert all(v in {"US", "UK", "DE"} for v in got.values())


def test_sqlsource_connection_views_and_staging_reuse(spark, tmp_path):
    import duckdb

    from timefence_spark.core import SQLSource
    from timefence_spark.sources.readers import _load_duckdb_sql

    db = str(tmp_path / "dims.duckdb")
    duckdb.connect(db).close()  # empty DB; data comes in via views=
    extra = str(tmp_path / "extra.parquet")
    import pandas as pd

    pd.DataFrame(
        {"k": [1, 2], "ts": pd.to_datetime(["2024-01-01", "2024-01-02"])}
    ).to_parquet(extra)

    src = SQLSource(
        "SELECT k, ts FROM extra_view ORDER BY k",
        keys="k",
        timestamp="ts",
        name="dim",
        connection=db,
        views={"extra_view": extra},
    )
    df1 = _load_duckdb_sql(spark, src)
    assert df1.count() == 2
    # Second load with the unchanged DB reuses the staged parquet (no error,
    # same rows) — exercised for the cache-key path.
    df2 = _load_duckdb_sql(spark, src)
    assert df2.count() == 2


def test_sqlsource_connection_missing_db_raises(spark):
    from timefence_spark.core import SQLSource
    from timefence_spark.errors import TimefenceValidationError
    from timefence_spark.sources.readers import load_source_df

    src = SQLSource(
        "SELECT 1",
        keys="k",
        timestamp="ts",
        name="ghost",
        connection="/nonexistent/no.duckdb",
    )
    with pytest.raises(TimefenceValidationError, match="database not found"):
        load_source_df(spark, src)


def test_size_estimate_failure_is_logged(caplog):
    import logging

    from timefence_spark.operators.asof import estimated_size_bytes

    class NotADataFrame:
        @property
        def _jdf(self):
            raise RuntimeError("private API drift")

    with caplog.at_level(logging.WARNING, logger="timefence_spark.operators.asof"):
        assert estimated_size_bytes(NotADataFrame()) is None
    assert any("size estimate unavailable" in r.message for r in caplog.records)


def test_output_partition_by_writes_pruned_layout(spark, tmp_path, users_feat_labels):
    """100 TB output path: Hive-partitioned directory (readers get partition
    pruning), no single-file coalesce."""
    users_path, txns_path, labels_path = users_feat_labels
    out = str(tmp_path / "train_dir")
    res = tf.build(
        _labels(labels_path),
        [_country_feature(users_path)],
        out,
        max_lookback="720d",  # fixture gap: labels trail updates by >365d
        output_partition_by="user_country__country",
        spark=spark,
    )
    assert res.validate()
    parts = {p.name for p in (tmp_path / "train_dir").iterdir() if p.is_dir()}
    assert any(p.startswith("user_country__country=") for p in parts)
    back = spark.read.parquet(out)
    assert back.count() == res.stats.row_count
    # partition filter prunes the scan to one directory
    from timefence_spark.plans import scan_details
    one = back.where(F.col("user_country__country") == "US")
    assert one.count() > 0


def test_output_partition_by_rejects_file_path(spark, tmp_path, users_feat_labels):
    users_path, txns_path, labels_path = users_feat_labels
    with pytest.raises(TimefenceConfigError, match="directory path"):
        tf.build(
            _labels(labels_path),
            [_country_feature(users_path)],
            str(tmp_path / "train.parquet"),
            output_partition_by="user_country__country",
            spark=spark,
        )


def test_build_skew_bucket_matches_plain_union(spark, tmp_path, users_feat_labels):
    """skew_bucket changes only the physical shape: output must be identical
    to the plain union build."""
    users_path, txns_path, labels_path = users_feat_labels
    plain = tf.build(
        _labels(labels_path),
        [_spend_feature(txns_path)],
        str(tmp_path / "plain.parquet"),
        spark=spark,
    )
    bucketed = tf.build(
        _labels(labels_path),
        [_spend_feature(txns_path)],
        str(tmp_path / "bucketed.parquet"),
        skew_bucket="30d",
        spark=spark,
    )
    assert bucketed.validate()
    # Single key mapping: bucketing keeps the zero-join plan.
    assert "-- recombine: none" in bucketed.sql
    a = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "plain.parquet")).collect()
    )
    b = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "bucketed.parquet")).collect()
    )
    assert a == b


def test_build_mixed_key_mappings_two_union_groups(spark, tmp_path, users_feat_labels):
    """Two union-strategy features with DIFFERENT key mappings must land in
    separate single-pass groups and recombine correctly on the spine rowid
    — the result must equal the same build with matching key names."""
    users_path, txns_path, labels_path = users_feat_labels
    # A copy of txns with the key under a different name -> key_mapping path.
    renamed_path = str(tmp_path / "txns_renamed.parquet")
    spark.read.parquet(txns_path).withColumnRenamed(
        "user_id", "entity"
    ).write.parquet(renamed_path)
    mapped_feat = tf.Feature(
        tf.Source(renamed_path, keys="entity", timestamp="created_at"),
        columns="amount",
        name="last_amount",
        key_mapping={"user_id": "entity"},
        on_duplicate="keep_any",
    )
    plain_feat = tf.Feature(
        tf.Source(txns_path, keys="user_id", timestamp="created_at"),
        columns="amount",
        name="last_amount_plain",
        on_duplicate="keep_any",
    )
    out = str(tmp_path / "mixed_keys.parquet")
    res = tf.build(
        _labels(labels_path), [mapped_feat, plain_feat], out, spark=spark
    )
    assert res.stats.row_count == 50
    assert res.validate()
    got = spark.read.parquet(out)
    rows = {
        r["user_id"]: (r["last_amount__amount"], r["last_amount_plain__amount"])
        for r in got.collect()
    }
    # Same underlying data under both mappings -> identical matches.
    for uid, (mapped, plain) in rows.items():
        assert mapped == plain, f"user {uid}: {mapped} != {plain}"
    assert any(v[0] is not None for v in rows.values())

    # The rebuild audit of two key mappings takes the row-id path: the
    # clean output audits clean, and a corrupted column is caught on its
    # own feature only.
    def audit(path):
        return tf.audit(
            path, [mapped_feat, plain_feat], keys="user_id",
            label_time="label_time", spark=spark,
        )

    assert not audit(out).has_leakage
    bad_path = str(tmp_path / "mixed_keys_bad.parquet")
    got.withColumn(
        "last_amount__amount", F.col("last_amount__amount") + 100.0
    ).coalesce(1).write.parquet(bad_path)
    report = audit(bad_path)
    n_matched = sum(v[0] is not None for v in rows.values())
    assert report["last_amount"].leaky_row_count == n_matched
    assert report.leaky_features == ["last_amount"]
    assert report.total_rows == 50


def test_union_group_chunking_matches_join(spark, monkeypatch, tmp_path):
    """Feature sets wider than UNION_GROUP_MAX_FEATURES split into several
    single-pass windows recombined on the row id (the 1M x 50 spill guard);
    output must equal both the unchunked union plan and the join strategy."""
    import datetime as dt

    import timefence_spark.engine as eng

    labels_df = spark.createDataFrame(
        [
            (i % 4, dt.datetime(2024, 2, 1) + dt.timedelta(hours=i), i % 2 == 0)
            for i in range(12)
        ],
        "uid int, label_time timestamp_ntz, y boolean",
    )
    labels = tf.Labels(df=labels_df, keys="uid", label_time="label_time", target="y")
    features = []
    for fi in range(5):
        fdf = spark.createDataFrame(
            [
                (i % 4, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i * 3 + fi), float(fi * 100 + i))
                for i in range(20)
            ],
            "uid int, ts timestamp_ntz, val double",
        )
        features.append(
            tf.Feature(
                tf.Source(df=fdf, keys="uid", timestamp="ts", name=f"s{fi}"),
                columns={"val": "v"},
                name=f"f{fi}",
                embargo=dt.timedelta(hours=fi),
            )
        )

    def run(strategy):
        res = tf.build(
            labels, features, output=None, max_lookback="365d",
            strategy=strategy, spark=spark,
        )
        return sorted((tuple(r) for r in res.dataframe.collect()), key=repr), res

    full_union, res_full = run("union")
    assert "(1 single-pass union group(s))" not in res_full.sql  # zero-join plan
    monkeypatch.setattr(eng, "UNION_GROUP_MAX_FEATURES", 2)
    chunked_union, res_chunked = run("union")
    # 5 features with cap 2 -> 3 chunks, recombined on the row id
    assert "(3 single-pass union group(s))" in res_chunked.sql
    joined, _ = run("join")
    assert full_union == chunked_union == joined


def test_preload_sources_csv_stays_ntz_and_conf_restored(spark, tmp_path):
    """CSV sources mutate session conf during NTZ schema inference, so
    _preload_sources must load them sequentially: with several CSV
    sources the session timestampType must come back untouched and every
    inferred timestamp column must still be TIMESTAMP_NTZ."""
    import timefence_spark as tf
    from timefence_spark.engine import _preload_sources

    paths = []
    for i in range(3):
        p = tmp_path / f"s{i}.csv"
        p.write_text("user_id,updated_at,v\n1,2024-01-01 00:00:00,1.5\n")
        paths.append(str(p))
    feats = [
        tf.Feature(
            tf.Source(p, keys=["user_id"], timestamp="updated_at", format="csv"),
            columns=["v"], name=f"f{i}",
        )
        for i, p in enumerate(paths)
    ]
    prev = spark.conf.get("spark.sql.timestampType", "TIMESTAMP_LTZ")
    loaded = _preload_sources(spark, feats)
    assert spark.conf.get("spark.sql.timestampType", "TIMESTAMP_LTZ") == prev
    assert len(loaded) == 3
    for df in loaded.values():
        assert df.schema["updated_at"].dataType.typeName() == "timestamp_ntz"


def _conf_probe(spark):
    """A progress callback that records spark.sql.shuffle.partitions at
    every build event."""
    seen = []
    return seen, lambda msg: seen.append(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_build_tunes_shuffle_partitions_for_small_inputs(
    spark, tmp_path, users_feat_labels
):
    """A build leaves the session's shuffle width alone: the width every
    query on the session sees stays the configured one at every build
    event, for file-backed and DataFrame-backed inputs alike (AQE sizes
    the build's shuffles instead), and the transcript records no
    width override."""
    users_path, _, labels_path = users_feat_labels
    before = spark.conf.get("spark.sql.shuffle.partitions")
    ldf = spark.read.parquet(labels_path)
    for labels in (
        _labels(labels_path),
        tf.Labels(df=ldf, keys="user_id", label_time="label_time", target="churned"),
    ):
        for output in (None, str(tmp_path / "conf.parquet")):
            seen, probe = _conf_probe(spark)
            res = tf.build(
                labels, [_country_feature(users_path)], output,
                progress=probe, spark=spark,
            )
            assert seen and set(seen) == {before}
            assert spark.conf.get("spark.sql.shuffle.partitions") == before
            assert not [l for l in res.sql.splitlines() if "tuned" in l]
            assert res.stats.row_count == 50


def test_build_raises_shuffle_partitions_for_big_inputs(
    spark, monkeypatch, tmp_path, users_feat_labels
):
    """No environment variable widens a build's shuffles:
    TIMEFENCE_SHUFFLE_INPUT_BYTES_PER_PARTITION (once an opt-in raise of
    the session width) changes neither the session conf nor the output.
    A directory output is sorted per part file and AQE coalesces the
    final shuffle, so a small build writes fewer part files than the
    session width."""
    import pyarrow.parquet as pq

    users_path, txns_path, labels_path = users_feat_labels
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    feats = [_country_feature(users_path), _spend_feature(txns_path)]
    outputs = {}
    for env in (None, "1"):
        if env is not None:
            monkeypatch.setenv("TIMEFENCE_SHUFFLE_INPUT_BYTES_PER_PARTITION", env)
        out = tmp_path / f"dir_out_{env}"
        seen, probe = _conf_probe(spark)
        res = tf.build(_labels(labels_path), feats, str(out), progress=probe, spark=spark)
        assert set(seen) == {str(width)}
        assert res.stats.row_count == 50
        parts = sorted(out.glob("part-*.parquet"))
        assert 1 <= len(parts) < width
        for part in parts:
            rows = pq.read_table(part).select(["user_id", "label_time"]).to_pylist()
            assert rows == sorted(rows, key=lambda r: (r["user_id"], r["label_time"]))
        outputs[env] = sorted(
            tuple(r) for r in spark.read.parquet(str(out)).collect()
        )
    assert outputs[None] == outputs["1"]
