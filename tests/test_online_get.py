"""Driver-side online reads: ``online_get`` and the Python key encoder.

``get_online_features`` encodes its request keys in Python and calls
the store's ``online_get`` instead of building a Spark request frame
for ``online_read``.  These tests hold that path to the DataFrame
multiget it replaces: the encoder to ``encode_entity_key``, each
store's ``online_get`` to ``online_read(...).collect()``, and the
serving call to zero Spark jobs."""

import json
import urllib.error
import urllib.request
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from feast_spark import (
    Entity,
    FeatureStore,
    FeatureView,
    FileSource,
    OnlineServingServer,
    RepoConfig,
    ValueType,
)
from feast_spark.io.fs import HadoopFS
from feast_spark.online.kv import SqliteOnlineStore
from feast_spark.online.store import (
    OnlineStore,
    encode_entity_key,
    encode_entity_key_row,
)

# -- key encoder -------------------------------------------------------

# the Spark type createDataFrame infers for each Python value type
_SPARK_TYPE = {
    bool: BooleanType(),
    int: LongType(),
    float: DoubleType(),
    str: StringType(),
}
_VALUES = {
    bool: st.booleans(),
    int: st.integers(-(2**63), 2**63 - 1),
    float: st.floats(allow_nan=False, allow_infinity=False),
    str: st.text(st.characters(blacklist_categories=("Cs",)), max_size=8),
}


def _spark_keys(spark, rows, join_keys, types):
    schema = StructType(
        [StructField(k, _SPARK_TYPE[types[k]]) for k in join_keys]
    )
    df = spark.createDataFrame([tuple(r[k] for k in join_keys) for r in rows], schema)
    return [r[0] for r in df.select(encode_entity_key(join_keys)).collect()]


@st.composite
def _key_rows(draw):
    join_keys = draw(
        st.lists(st.sampled_from(["b", "a", "zone", "id"]), min_size=1,
                 max_size=3, unique=True)
    )
    types = {k: draw(st.sampled_from(list(_VALUES))) for k in join_keys}
    rows = draw(
        st.lists(
            st.fixed_dictionaries(
                {k: st.none() | _VALUES[types[k]] for k in join_keys}
            ),
            min_size=1, max_size=20,
        )
    )
    return join_keys, types, rows


@settings(max_examples=40, deadline=None)
@given(_key_rows())
def test_python_key_encoder_matches_spark(spark, case):
    join_keys, types, rows = case
    assert [encode_entity_key_row(r, join_keys) for r in rows] == _spark_keys(
        spark, rows, join_keys, types
    )


@pytest.mark.parametrize(
    "row, expected",
    [
        ({"a": 7, "b": None}, "a=7"),  # a NULL part is skipped
        ({"a": True}, "a=true"),
        ({"a": 12345678.0}, "a=1.2345678E7"),
        ({"a": 1e-4}, "a=1.0E-4"),
        ({"a": -0.0}, "a=-0.0"),
        ({"a": 5e-324}, "a=4.9E-324"),  # JDK digits, not Python's repr
        ({"b": "x|y", "a": 1}, "a=1|b=x|y"),
    ],
)
def test_python_key_encoder_pinned_cases(spark, row, expected):
    keys = sorted(row)
    types = {k: type(v) if v is not None else int for k, v in row.items()}
    assert encode_entity_key_row(row, keys) == expected
    assert _spark_keys(spark, [row], keys, types) == [expected]


def test_python_key_encoder_rejects_other_types():
    with pytest.raises(TypeError, match="list"):
        encode_entity_key_row({"a": [1]}, ["a"])


# -- online_get vs online_read ----------------------------------------

_JOIN_KEYS = ["driver_id", "zone"]
_FEATURES = ["value", "label", "cnt"]
_SRC_SCHEMA = StructType(
    [
        StructField("driver_id", LongType()),
        StructField("zone", StringType()),
        StructField("ts", TimestampType()),
        StructField("created", TimestampType()),
        StructField("value", DoubleType()),
        StructField("label", StringType()),
        StructField("cnt", LongType()),
    ]
)
_T0 = datetime(2024, 1, 1)


def _src_rows(n, day, value_of):
    ts = _T0 + timedelta(days=day)
    return [
        (i, None if i % 4 == 0 else f"z{i % 3}", ts + timedelta(microseconds=i),
         ts, value_of(i), f"l{i}", i * day)
        for i in range(n)
    ]


def _make_store(kind, spark, tmp_path):
    if kind == "parquet-local":
        return OnlineStore(str(tmp_path / "online"), keep_versions=5)
    if kind == "parquet-hadoop":
        return OnlineStore(
            f"file://{tmp_path}/online", fs=HadoopFS(spark), keep_versions=5
        )
    return SqliteOnlineStore(str(tmp_path / "online.db"))


def _write(store, spark, rows, features):
    df = spark.createDataFrame(rows, _SRC_SCHEMA).repartition(3)
    store.online_write_batch(
        spark, "p", "v", df, _JOIN_KEYS, "ts", "created", features
    )


def _assert_same(store, spark, view, request, feats, **kw):
    """online_get answers exactly what online_read's found rows say,
    value for value and Python type for Python type."""
    req = spark.createDataFrame(
        request, "driver_id BIGINT, zone STRING"
    )
    via_read = {}
    for r in store.online_read(spark, "p", view, req, _JOIN_KEYS, feats, **kw).collect():
        if r["__found"]:
            key = encode_entity_key_row(r.asDict(), _JOIN_KEYS)
            via_read[key] = {f: r[f] for f in ["__event_ts", *feats]}
    keys = [
        encode_entity_key_row(dict(zip(_JOIN_KEYS, t)), _JOIN_KEYS)
        for t in request
    ]
    via_get = store.online_get(spark, "p", view, keys, feats, **kw)
    assert via_get == via_read

    def types(d):
        return {k: {f: type(v) for f, v in h.items()} for k, h in d.items()}

    assert types(via_get) == types(via_read)
    return via_get


@pytest.mark.parametrize("kind", ["parquet-local", "parquet-hadoop", "sqlite"])
def test_online_get_matches_online_read(spark, tmp_path, kind):
    store = _make_store(kind, spark, tmp_path)
    # seq 1: NULL values on every third key
    _write(store, spark, _src_rows(40, 0, lambda i: None if i % 3 == 0 else i / 7),
           ["value", "label"])
    # created-timestamp ties: same event ts for key 5, newer created wins
    tie = _T0 + timedelta(days=1)
    _write(store, spark, [
        (5, "z2", tie, tie, 1.0, "old", 1),
        (5, "z2", tie, tie + timedelta(seconds=1), 2.0, "new", 2),
        # a NULL event ts: the key is stored, but online_read's
        # __found is False for it, so online_get leaves it out
        (50, "z2", None, None, 3.0, "no-ts", 3),
    ], ["value", "label", "cnt"])
    # seq 3: 'cnt' now in every row, a newer value for keys < 20
    _write(store, spark, _src_rows(20, 2, lambda i: i * 1.5), _FEATURES)
    request = [
        (1, "z1"), (1, "z1"),  # duplicate request keys
        (3, "z0"), (8, None),  # NULL key part
        (5, "z2"), (30, "z0"), (33, "z0"),  # untouched since seq 1
        (1, "nope"), (999, None), (50, "z2"),  # misses
    ]
    got = _assert_same(store, spark, "v", request, [*_FEATURES, "late"])
    key5 = encode_entity_key_row({"driver_id": 5, "zone": "z2"}, _JOIN_KEYS)
    assert got[key5]["label"] == "l5"  # seq 3 (event ts day 2) wins
    assert got[encode_entity_key_row(
        {"driver_id": 33, "zone": "z0"}, _JOIN_KEYS)]["value"] is None
    assert got[encode_entity_key_row(
        {"driver_id": 30, "zone": "z0"}, _JOIN_KEYS)]["late"] is None
    # a view that was never materialized
    assert _assert_same(store, spark, "ghost", request, _FEATURES) == {}
    if kind == "sqlite":
        with pytest.raises(ValueError, match="as_of"):
            store.online_get(spark, "p", "v", [key5], _FEATURES, as_of=1)
        return
    store.tag_snapshot("p", "v", "ties", seq=2)
    hist = store._mtable(store._table_dir("p", "v")).history()
    between_1_and_2 = datetime.fromtimestamp(
        (hist[0]["committed_at"] + hist[1]["committed_at"]) / 2, timezone.utc
    ).replace(tzinfo=None)
    for as_of in (1, "ties", between_1_and_2):
        # seq 1 predates 'cnt': it serves None there
        got = _assert_same(store, spark, "v", request, _FEATURES, as_of=as_of)
        if as_of == "ties":
            assert got[key5]["label"] == "new"
    assert _assert_same(store, spark, "v", request, _FEATURES, as_of=0) == {}
    assert _assert_same(store, spark, "ghost", request, _FEATURES, as_of=2) == {}


# -- serving: zero Spark jobs, loud bad requests -------------------------


def _feature_store(spark, tmp_path, online_store_type):
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [Row(driver_id=i, ts=_T0 + timedelta(hours=i), value=float(i))
         for i in range(10)]
    ).write.parquet(src)
    path = tmp_path / ("online.db" if online_store_type == "sqlite" else "online")
    st_ = FeatureStore(
        spark,
        RepoConfig(
            project="get_t",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(path),
            online_store_type=online_store_type,
        ),
    )
    st_.apply([
        Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64),
        FeatureView(
            name="fv",
            entities=["driver"],
            ttl=timedelta(days=30),
            batch_source=FileSource(path=src, event_timestamp_column="ts"),
        ),
    ])
    st_.materialize(_T0 - timedelta(days=1), _T0 + timedelta(days=1))
    return st_


def _jobs_in(spark, fn):
    group = f"online-get-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("online_store_type", ["parquet", "sqlite"])
def test_get_online_features_launches_no_spark_job(
    spark, tmp_path, online_store_type
):
    st_ = _feature_store(spark, tmp_path, online_store_type)
    rows = [{"driver_id": i} for i in (1, 2, 2, 77)]
    resp, jobs = _jobs_in(
        spark, lambda: st_.get_online_features(
            ["fv:value"], rows, full_field_statuses=True,
            now=_T0 + timedelta(days=2),
        )
    )
    assert jobs == 0
    assert resp["value"] == [1.0, 2.0, 2.0, None]
    assert resp["__statuses"]["value"] == [
        "PRESENT", "PRESENT", "PRESENT", "NOT_FOUND"
    ]
    # the probe does see jobs: the DataFrame multiget launches some
    req = spark.createDataFrame([Row(driver_id=1)])
    _, read_jobs = _jobs_in(
        spark, lambda: st_.online_store.online_read(
            spark, "get_t", "fv", req, ["driver_id"], ["value"]
        ).collect()
    )
    assert read_jobs > 0


def _post_error(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    return e.value.code, json.loads(e.value.read())["error"]


def test_bad_entity_rows_are_client_errors(spark, tmp_path):
    st_ = _feature_store(spark, tmp_path, "parquet")
    with OnlineServingServer(st_) as srv:
        url = f"{srv.address}/get-online-features"
        code, err = _post_error(url, {
            "features": ["fv:value"],
            "entity_rows": [{"driver": 1}, {"driver": 2}],
        })
        assert code == 400
        assert "entity row 0" in err and "'driver_id'" in err
        code, err = _post_error(url, {
            "features": ["fv:value"],
            "entity_rows": [{"driver_id": 1}, {"customer_id": 2}],
        })
        assert code == 400
        assert "entity row 1" in err and "'driver_id'" in err
