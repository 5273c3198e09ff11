"""Quickstart project generator: deterministic synthetic data + a demo
project layout, including a pre-built LEAKY training set for audit to catch.

Mirrors the reference quickstart flow (quickstart.py:41-206): users with
multiple snapshots (so as-of joins pick among candidates), transactions,
labels, and a ``train_LEAKY.parquet`` whose features were joined with
*future* data (<= label_time + 14d), which the audit must flag.

Data generation is pure python/pyarrow (deterministic arithmetic, no
randomness) — no Spark session needed to scaffold a project.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 2000
SNAPSHOT_DATES = [
    dt.datetime(2023, 1, 15),
    dt.datetime(2023, 7, 15),
    dt.datetime(2024, 1, 15),
]
COUNTRIES = ["US", "UK", "DE", "FR", "JP"]
TIERS = ["free", "pro", "enterprise"]

FEATURES_TEMPLATE = '''\
"""Feature definitions for the quickstart project."""

import timefence_spark as tf

users = tf.Source("users.parquet", keys="user_id", timestamp="updated_at")
transactions = tf.Source(
    "transactions.parquet", keys="user_id", timestamp="created_at"
)

user_country = tf.Feature(users, columns="country", name="user_country",
                          on_duplicate="keep_any")

user_tier = tf.Feature(users, columns="tier", name="user_tier",
                       on_duplicate="keep_any")

rolling_spend_30d = tf.Feature(
    transactions,
    sql="""
        SELECT user_id, created_at AS feature_time,
               SUM(amount) OVER (
                   PARTITION BY user_id ORDER BY created_at
                   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
               ) AS spend_30d
        FROM {source}
    """,
    name="rolling_spend_30d",
    embargo="1d",
    on_duplicate="keep_any",
)
'''

CONFIG_TEMPLATE = """\
labels:
  path: labels.parquet
  keys: [user_id]
  label_time: label_time
  target: [churned]

features: features.py

defaults:
  max_lookback: 365d
  join: strict

output: train.parquet
store: .timefence_spark
"""


def _ts_array(values: list[dt.datetime]) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _write(path: Path, table: pa.Table) -> None:
    pq.write_table(table, path)


def generate_users(path: Path) -> None:
    uid, country, signup, updated, tier = [], [], [], [], []
    for i in range(1, N_USERS + 1):
        for snap in SNAPSHOT_DATES:
            uid.append(i)
            country.append(COUNTRIES[i % 5])
            signup.append((dt.datetime(2020, 1, 1) + dt.timedelta(days=i % 1000)).date())
            updated.append(snap)
            tier.append(TIERS[i % 3])
    _write(
        path,
        pa.table(
            {
                "user_id": pa.array(uid, pa.int32()),
                "country": country,
                "signup_date": pa.array(signup, pa.date32()),
                "updated_at": _ts_array(updated),
                "tier": tier,
            }
        ),
    )


def generate_transactions(path: Path, per_user: int = 20) -> None:
    uid, created, amount = [], [], []
    n = N_USERS * per_user
    for i in range(1, n + 1):
        uid.append(((i - 1) % N_USERS) + 1)
        created.append(
            dt.datetime(2022, 1, 1)
            + dt.timedelta(days=(i * 7) % 1095, hours=(i * 13) % 24)
        )
        amount.append(round((50 + (i * 17) % 500) / 10.0, 2))
    _write(
        path,
        pa.table(
            {
                "user_id": pa.array(uid, pa.int32()),
                "created_at": _ts_array(created),
                "amount": pa.array(amount, pa.float64()),
            }
        ),
    )


def generate_labels(path: Path, n: int = 1000) -> None:
    uid, lt, churned = [], [], []
    for i in range(1, n + 1):
        uid.append(((i - 1) % N_USERS) + 1)
        lt.append(dt.datetime(2023, 6, 1) + dt.timedelta(days=(i * 11) % 548))
        churned.append(i % 5 == 0)
    _write(
        path,
        pa.table(
            {
                "user_id": pa.array(uid, pa.int32()),
                "label_time": _ts_array(lt),
                "churned": pa.array(churned, pa.bool_()),
            }
        ),
    )


def generate_leaky_training_set(dir_path: Path) -> None:
    """Join features with data up to label_time + 14 days — planted leakage
    the audit must detect (reference quickstart.py:119-206). Pure Spark:
    latest-row-per-key window for the snapshot feature, range join + agg for
    the rolling spend."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from timefence_spark.engine import _write_output, get_spark

    spark = get_spark()
    users = spark.read.parquet(str(dir_path / "users.parquet"))
    txns = spark.read.parquet(str(dir_path / "transactions.parquet"))
    labels = spark.read.parquet(str(dir_path / "labels.parquet"))

    l = labels.withColumn(
        "rid", F.row_number().over(Window.orderBy("user_id", "label_time"))
    ).alias("l")

    # Snapshot feature, LEAKY on purpose: sees updates 14 days PAST label_time.
    u = users.alias("u")
    snap = (
        l.join(
            u,
            (F.col("u.user_id") == F.col("l.user_id"))
            & (F.col("u.updated_at") <= F.col("l.label_time") + F.expr("INTERVAL 14 DAYS")),
        )
        .select("l.rid", "u.country", "u.updated_at")
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("rid").orderBy(F.desc("updated_at"))),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .alias("snap")
    )

    # Rolling spend, LEAKY: window extends 2 days past label_time.
    t = txns.alias("t")
    spend = (
        l.join(
            t,
            (F.col("t.user_id") == F.col("l.user_id"))
            & (F.col("t.created_at") <= F.col("l.label_time") + F.expr("INTERVAL 2 DAYS"))
            & (F.col("t.created_at") >= F.col("l.label_time") - F.expr("INTERVAL 28 DAYS")),
        )
        .groupBy("l.rid")
        .agg(
            F.sum("t.amount").alias("spend_30d"),
            F.max("t.created_at").alias("last_txn"),
        )
        .alias("spend")
    )

    out = (
        l.join(snap, "rid", "left")
        .join(spend, "rid", "left")
        .select(
            F.col("l.user_id"),
            F.col("l.label_time"),
            F.col("l.churned"),
            F.col("snap.country").alias("user_country__country"),
            F.col("snap.updated_at").alias("user_country__feature_time"),
            F.col("spend.spend_30d").alias("rolling_spend_30d__spend_30d"),
            F.col("spend.last_txn").alias("rolling_spend_30d__feature_time"),
        )
        .orderBy("user_id", "label_time")
    )
    _write_output(out, dir_path / "train_LEAKY.parquet")


def create_quickstart(target: Path) -> Path:
    target = Path(target)
    target.mkdir(parents=True, exist_ok=True)
    generate_users(target / "users.parquet")
    generate_transactions(target / "transactions.parquet")
    generate_labels(target / "labels.parquet")
    generate_leaky_training_set(target)
    (target / "features.py").write_text(FEATURES_TEMPLATE)
    (target / "timefence.yaml").write_text(CONFIG_TEMPLATE)
    return target
