"""The feature repository both workloads use: four feature views over
the generated tables, each with a ttl.

- ``user_activity`` (events, key ``user_id``): the hot online view,
  about 1.5k keys, with created-timestamp duplicates; in the serving
  workload it is also fed by a stream.
- ``customer_orders`` (orders, key ``cust_id``) and ``customer_lines``
  (line items, key ``cust_id``): training-only views.
- ``order_status`` (orders, key ``order_id``): the large online view,
  about 150k keys.
"""

from __future__ import annotations

from datetime import timedelta

from feast_spark.data_source import FileSource
from feast_spark.entity import Entity
from feast_spark.feature import Feature
from feast_spark.feature_store import FeatureStore, RepoConfig
from feast_spark.feature_view import FeatureView
from feast_spark.types import ValueType

PROJECT = "perfbench"

# view -> (source table, key column in the source, join key, ts column,
# created-ts column, ttl, features)
VIEWS = {
    "user_activity": (
        "events", "user_id", "user_id", "ts", "created_ts",
        timedelta(days=3),
        (("value", ValueType.DOUBLE), ("event_type", ValueType.STRING)),
    ),
    "customer_orders": (
        "orders", "o_custkey", "cust_id", "o_orderdate", "",
        timedelta(days=14),
        (("o_totalprice", ValueType.DOUBLE),
         ("o_orderpriority", ValueType.STRING)),
    ),
    "customer_lines": (
        "lineitem", "l_custkey", "cust_id", "l_shipdate", "",
        timedelta(days=7),
        (("l_extendedprice", ValueType.DOUBLE),
         ("l_discount", ValueType.DOUBLE)),
    ),
    "order_status": (
        "orders", "o_orderkey", "order_id", "o_orderdate", "",
        timedelta(days=90),
        (("o_totalprice", ValueType.DOUBLE),
         ("o_orderstatus", ValueType.STRING)),
    ),
}
ONLINE_VIEWS = ("user_activity", "order_status")
TRAINING_VIEWS = ("user_activity", "customer_orders", "customer_lines")


def refs(view: str) -> list[str]:
    return [f"{view}:{name}" for name, _ in VIEWS[view][6]]


def make_store(spark, root: str, paths: dict[str, str], views) -> FeatureStore:
    """Create the store under ``root`` and apply ``views``."""
    store = FeatureStore(
        spark,
        RepoConfig(
            project=PROJECT,
            registry_path=f"{root}/registry.json",
            online_store_path=f"{root}/online",
        ),
    )
    objects: list = [
        Entity(name="user", join_key="user_id", value_type=ValueType.INT64),
        Entity(name="customer", join_key="cust_id", value_type=ValueType.INT64),
        Entity(name="order", join_key="order_id", value_type=ValueType.INT64),
    ]
    entity_of = {"user_id": "user", "cust_id": "customer", "order_id": "order"}
    for name in views:
        table, src_key, key, ts, created, ttl, feats = VIEWS[name]
        objects.append(
            FeatureView(
                name=name,
                entities=[entity_of[key]],
                ttl=ttl,
                features=[Feature(n, t) for n, t in feats],
                online=name in ONLINE_VIEWS,
                batch_source=FileSource(
                    path=paths[table],
                    event_timestamp_column=ts,
                    created_timestamp_column=created,
                    field_mapping={} if src_key == key else {src_key: key},
                ),
            )
        )
    store.apply(objects)
    return store
