"""S8/S9 — online KV store as a keyed columnar table.

The reference's online stores are row-oriented KV engines (sqlite DDL at
infra/online_stores/sqlite.py:166-187, Redis HSET redis.py:133-168) keyed
by a canonical serialized entity key (infra/key_encoding_utils.py:22-48:
sorted join keys, deterministic encoding).  Spark-native design: one
columnar table per (project, view), keyed by a deterministic string
encoding of the sorted join keys; upsert = union + latest-per-key +
versioned-snapshot commit.  On a production deployment the same plan
targets Delta ``MERGE INTO`` or an external KV via ``foreachBatch``
(see ``feast_spark/online/sqlite.py``); the storage backend is
pluggable, the merge plan identical.

Commit protocol (object-store safe — no directory renames anywhere):

    <root>/<project>/<view>/
        _MANIFEST.json      <- pointer: {"current": "v_00000003", ...}
        v_00000001/ ...     <- immutable parquet snapshots
        v_00000003/ ...

A writer (1) writes the merged table to a FRESH ``v_NNNNNNNN``
directory, (2) atomically replaces ``_MANIFEST.json`` to point at it,
(3) best-effort prunes snapshots older than ``keep_versions``.  Readers
resolve the manifest once per query and only ever see a fully written
immutable snapshot — a writer crash between (1) and (2) leaves an
orphan directory the next commit numbers past and GC later removes.
This works on HDFS/S3/ABFS/GCS semantics (S3 has no atomic directory
rename, which is why the previous ``os.rename`` swap could not), with
filesystem access behind ``StoreFS`` (LocalFS for tests/POSIX, HadoopFS
for any scheme the cluster resolves).

Key encoding: ``k1=v1|k2=v2`` over join keys sorted by name —
order-insensitive and deterministic across partitions, mirroring the
reference's sorted length-prefixed binary encoding without wire compat
(not needed: helpers.py murmur3 keys are a Redis-specific detail).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_spark.io.fs import LocalFS, StoreFS
from feast_spark.io.pread import read_parquet_memo
from feast_spark.io.manifest import MANIFEST, ManifestedParquetTable
from feast_spark.operators.dedup import latest_per_key

_KEY = "__entity_key"
_EVENT_TS = "__event_ts"
_CREATED_TS = "__created_ts"


def encode_entity_key(join_keys: list[str]) -> F.Column:
    """Deterministic, order-insensitive key column (key_encoding_utils.py:22-48)."""
    parts = []
    for k in sorted(join_keys):
        parts.append(F.concat(F.lit(f"{k}="), F.col(k).cast("string")))
    return F.concat_ws("|", *parts)


def encode_entity_key_row(row: dict, join_keys: list[str]) -> str:
    """:func:`encode_entity_key` of one driver-side request row, in
    Python: the same ``k=v`` parts over the sorted join keys, a NULL
    value's part skipped (``concat`` with NULL is NULL, and
    ``concat_ws`` drops it), each value spelled the way Spark's
    ``CAST(v AS STRING)`` spells the type ``createDataFrame`` infers
    for it.  Raises ``KeyError`` for a missing join key and
    ``TypeError`` for a value that is not None/bool/int/float/str."""
    return "|".join(
        f"{k}={_cast_string(row[k])}"
        for k in sorted(join_keys)
        if row[k] is not None
    )


def _cast_string(v) -> str:
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, float):
        # Spark casts a double with the JVM's Double.toString, whose
        # digits differ from Python's repr (JDK 17 prints 5e-324 as
        # 4.9E-324 and 1e23 as 9.999999999999999E22) and from one JDK
        # release to the next: ask the running JVM (a py4j call, no
        # Spark job)
        from pyspark import SparkContext

        return SparkContext._jvm.java.lang.Double.toString(v)
    raise TypeError(
        f"entity key value {v!r} of type {type(v).__name__} is not "
        "None, bool, int, float or str"
    )


def project_incoming(
    df: DataFrame,
    join_keys: list[str],
    ts_col: str,
    created_col: str | None,
    feature_cols: list[str],
) -> DataFrame:
    """Canonical online-row projection shared by every backend:
    encoded entity key + join keys + normalized ts columns + features."""
    return df.select(
        encode_entity_key(join_keys).alias(_KEY),
        *[F.col(k) for k in join_keys],
        F.col(ts_col).alias(_EVENT_TS),
        (
            F.col(created_col) if created_col else F.lit(None).cast("timestamp")
        ).alias(_CREATED_TS),
        *[F.col(f) for f in feature_cols],
    )


class OnlineStore:
    def __init__(
        self,
        root: str,
        fs: StoreFS | None = None,
        keep_versions: int | None = None,
    ):
        """``keep_versions=None`` defers to each view table's
        manifest-stored window (io/manifest.py) — so a vacuum from a
        process configured differently than the materializer honors
        the committer's retention.  An explicit int overrides (and is
        persisted by the next materialization)."""
        self.root = root
        self.fs = fs or LocalFS()
        self.keep_versions = (
            None if keep_versions is None else max(1, keep_versions)
        )

    def _table_dir(self, project: str, view_name: str) -> str:
        return posixpath.join(self.root, project, view_name)

    # -- manifest (shared protocol: io.manifest) ---------------------------

    def _mtable(self, table_dir: str) -> ManifestedParquetTable:
        return ManifestedParquetTable(
            table_dir, fs=self.fs, keep_versions=self.keep_versions
        )

    def _current_data_path(self, project: str, view_name: str) -> str | None:
        return self._mtable(self._table_dir(project, view_name)).current_path()

    def snapshot_seq(self, project: str, view_name: str) -> int | None:
        """The view's head snapshot commit seq, or None before its
        first materialization — the coordinate a provenance record
        (provenance.py) stores for later ``as_of=`` replay.

        A manifest WITHOUT a commit log (written before commit logging
        existed) raises instead of returning None: the view WAS
        serving real values, and recording it as never-materialized
        would make a later replay silently serve NOT_FOUND — fake
        reproducibility.  Its next materialization starts the log."""
        table_dir = self._table_dir(project, view_name)
        if not self.fs.exists(posixpath.join(table_dir, MANIFEST)):
            return None
        hist = self._mtable(table_dir).history()
        if not hist:
            raise ValueError(
                f"online table {project}/{view_name} has a manifest but "
                "no commit log — it predates commit logging, so its "
                "serving state has no replayable coordinate; "
                "materialize once to start the log"
            )
        return hist[-1]["seq"]

    def tag_snapshot(
        self, project: str, view_name: str, name: str,
        seq: int | None = None,
    ) -> int:
        """Pin the view's snapshot commit ``seq`` (default head) under
        ``name`` — GC-exempt until :meth:`delete_snapshot_tag`, so a
        provenance-pinned serving state survives every later
        materialization regardless of ``keep_versions``.  Returns the
        pinned seq; readable via ``online_read(as_of=name)``."""
        return self._mtable(
            self._table_dir(project, view_name)
        ).tag(name, seq)

    def snapshot_tags(self, project: str, view_name: str) -> dict[str, int]:
        """The view's named snapshot pins ``{name: seq}`` — what a
        provenance record stores so ``describe`` can verify the online
        pin, not just the seq."""
        return self._mtable(self._table_dir(project, view_name)).tags()

    def snapshot_meta(self, project: str, view_name: str) -> dict:
        """The view's last-commit manifest meta — e.g. the streaming
        sink's ``stream_epoch`` watermark, the missing coordinate for
        a view fed by a pipeline that never stops writing."""
        return self._mtable(
            self._table_dir(project, view_name)
        ).current_meta()

    def delete_snapshot_tag(
        self, project: str, view_name: str, name: str
    ) -> None:
        """Unpin ``name``; the snapshot rejoins the GC window at the
        next materialization (or :meth:`vacuum_snapshots`)."""
        self._mtable(self._table_dir(project, view_name)).delete_tag(name)

    def vacuum_snapshots(self, project: str, view_name: str) -> list[str]:
        """Reclaim snapshot versions outside the keep window NOW —
        e.g. after a retired run's tag was deleted on a view that is
        no longer materialized (commit-path GC would otherwise never
        run again).  Returns the deleted version dirs."""
        return self._mtable(self._table_dir(project, view_name)).vacuum()

    # -- write / read ------------------------------------------------------

    def online_write_batch(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        df: DataFrame,
        join_keys: list[str],
        ts_col: str,
        created_col: str | None,
        feature_cols: list[str],
        meta: dict | None = None,
    ) -> None:
        """Per-key upsert: newest (event_ts, created_ts) wins, matching
        the sqlite UPDATE + INSERT-OR-IGNORE semantics (sqlite.py:76-128).

        ``meta`` merges into the snapshot manifest (io/manifest.py
        commit) — the streaming sink stamps its ``stream_epoch``
        watermark here so a provenance snapshot can record how far a
        never-stopping ingestion had gotten."""
        table_dir = self._table_dir(project, view_name)
        incoming = project_incoming(df, join_keys, ts_col, created_col, feature_cols)
        current = self._current_data_path(project, view_name)
        if current is not None:
            existing = read_parquet_memo(spark, current)
            # schema evolution: tolerate new feature columns
            for c in incoming.columns:
                if c not in existing.columns:
                    existing = existing.withColumn(
                        c, F.lit(None).cast(incoming.schema[c].dataType)
                    )
            incoming = existing.select(*incoming.columns).unionByName(incoming)
        merged = latest_per_key(
            incoming, [_KEY], _EVENT_TS, created_col=_CREATED_TS
        )
        self._mtable(table_dir).commit(merged, meta=meta)

    def expire(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        cutoff,
    ) -> int:
        """TTL sweep: drop rows with event_ts older than ``cutoff``,
        committed as a new snapshot through the same manifest-flip
        protocol as writes (readers never see a partial sweep; a
        crashed sweep leaves only an orphan the next commit numbers
        past).  Returns the number of expired rows.  The reference
        relies on each read filtering by ttl — this reclaims the
        storage too."""
        current = self._current_data_path(project, view_name)
        if current is None:
            return 0
        existing = read_parquet_memo(spark, current)
        live = existing.where(F.col(_EVENT_TS) >= F.lit(cutoff))
        n_expired = existing.count() - live.count()
        if n_expired == 0:
            return 0
        self._mtable(self._table_dir(project, view_name)).commit(live)
        return n_expired

    def staleness(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        now,
    ):
        """Serving-freshness profile of the current snapshot — one
        aggregate job over the KV table: key count, age quantiles of
        the latest materialized value per key (p50/p90/p99/max), and
        the fraction older than a given reference instant would deem
        stale is left to the caller via the quantiles.  ``now`` is an
        explicit datetime (deterministic verdicts; pass the clock you
        serve against).  Returns a dict; empty table -> n_keys=0 and
        None ages.

        This is the monitoring half of the freshness story: the
        ``expectations.freshness`` check gates the SOURCE before
        materialize; this profiles what serving actually holds."""
        path = self._current_data_path(project, view_name)
        if path is None:
            return {"n_keys": 0, "age_p50_s": None, "age_p90_s": None,
                    "age_p99_s": None, "age_max_s": None}
        snap = read_parquet_memo(spark, path)
        age = F.lit(now).cast("timestamp").cast("double") - F.col(
            _EVENT_TS
        ).cast("double")
        row = snap.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "percentile_approx("
                f"CAST('{now}' AS TIMESTAMP) - {_EVENT_TS}, "
                "array(0.5, 0.9, 0.99), 10000)"
            ).alias("q"),
            F.max(age).alias("mx"),
        ).head()
        if row["n"] == 0:
            return {"n_keys": 0, "age_p50_s": None, "age_p90_s": None,
                    "age_p99_s": None, "age_max_s": None}
        q = [v.total_seconds() if v is not None else None for v in row["q"]]
        return {
            "n_keys": row["n"],
            "age_p50_s": q[0],
            "age_p90_s": q[1],
            "age_p99_s": q[2],
            "age_max_s": row["mx"],
        }

    def teardown(self, project: str, view_names: list[str] | None = None) -> None:
        """Drop online state (provider.teardown_infra,
        infra/local.py): the whole project dir, or named view tables."""
        if view_names is None:
            self.fs.delete(posixpath.join(self.root, project))
        else:
            for v in view_names:
                self.fs.delete(self._table_dir(project, v))

    #: the parquet store keeps ``keep_versions`` immutable snapshots, so
    #: it can serve time-travel reads; KV backends overwrite in place
    #: and cannot (feature_store.get_online_features checks this flag
    #: before passing as_of through)
    supports_time_travel = True

    def _snapshot_path(
        self, project: str, view_name: str, as_of=None
    ) -> str | None:
        """The snapshot directory a read of the view serves from, or
        None when it serves NOT_FOUND rows: head through the manifest,
        or — with ``as_of`` (datetime, naive = UTC; int commit seq; tag
        name) — the snapshot that was current then, resolved through
        the manifest commit log (``io/manifest.path_as_of``).
        Snapshots older than the ``keep_versions`` GC window raise with
        the surviving range.  A view NEVER materialized, and seq 0,
        resolve to None: serving returned NOT_FOUND rows then too."""
        if as_of is None:
            return self._current_data_path(project, view_name)
        if as_of == 0:
            # seq 0 = "before the first commit" (numbering starts at
            # 1): the pre-history replay a provenance record pins for a
            # view that was never materialized when the snapshot was
            # taken (provenance.NEVER_MATERIALIZED)
            return None
        table_dir = self._table_dir(project, view_name)
        if not self.fs.exists(posixpath.join(table_dir, MANIFEST)):
            return None
        return self._mtable(table_dir).path_as_of(as_of)

    def online_get(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        keys: list[str],
        feature_cols: list[str],
        as_of=None,
    ) -> dict[str, dict]:
        """Driver-side multiget, the serving path of
        ``get_online_features``: maps each found encoded entity key
        (:func:`encode_entity_key_row`) to ``{"__event_ts": ..., feature:
        value, ...}``; missing keys are absent.  ``as_of`` resolves the
        snapshot as in :meth:`online_read`, and a feature column the
        snapshot predates serves None.

        No Spark job: the snapshot's part files are read one at a time
        through ``self.fs`` with pyarrow and filtered to the requested
        keys, so driver memory holds one part file plus the hits, and
        the scan stops once every key is found (a snapshot holds one
        row per key).  ``__event_ts`` is a naive-UTC datetime; values
        take the Python types Spark's ``collect()`` gives them."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.conversion import ArrowTableToRowsConversion
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self._snapshot_path(project, view_name, as_of)
        wanted = set(keys)
        found: dict[str, dict] = {}
        if path is None or not wanted:
            return found
        needle = pa.array(list(wanted), pa.string())
        for name in sorted(self.fs.list_files(path)):
            if name.startswith(("_", ".")):
                continue  # _SUCCESS, .crc: files Spark's reader skips too
            part = pq.ParquetFile(
                pa.BufferReader(self.fs.read_bytes(posixpath.join(path, name))),
                coerce_int96_timestamp_unit="us",
            )
            present = [f for f in feature_cols if f in part.schema_arrow.names]
            table = part.read(columns=[_KEY, _EVENT_TS, *present])
            table = table.filter(pc.is_in(table[_KEY], value_set=needle))
            for i, field in enumerate(table.schema):
                # a TIMESTAMP_MICROS column reads tz-aware; the cast
                # keeps its UTC wall clock and drops the zone
                if pa.types.is_timestamp(field.type) and field.type.tz:
                    table = table.set_column(
                        i, field.name, table[i].cast(pa.timestamp("us"))
                    )
            schema = from_arrow_schema(table.schema, prefer_timestamp_ntz=True)
            for key, ts, *vals in ArrowTableToRowsConversion.convert(
                table, schema, return_as_tuples=True
            ):
                if ts is None:
                    continue  # online_read's __found is a non-NULL ts
                hit = dict.fromkeys(feature_cols)
                hit.update(zip(present, vals))
                hit[_EVENT_TS] = ts
                found[key] = hit
            if len(found) == len(wanted):
                break
        return found

    def online_read(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        entity_rows_df: DataFrame,
        join_keys: list[str],
        feature_cols: list[str],
        as_of=None,
    ) -> DataFrame:
        """J4 — the DataFrame multiget, for callers whose request keys
        live in a (possibly distributed) DataFrame: a broadcast
        semi-join of the request keys against the KV table
        (feature_store.py:568-587).  Returns one row per request row
        with NULL features on miss, plus ``__found``.
        ``get_online_features`` does not come through here — its
        request rows already live on the driver, so it calls
        :meth:`online_get`, which launches no Spark job.

        ``as_of`` (datetime, naive = UTC; an int commit seq; or a tag
        name) serves the read from the snapshot that was current THEN —
        what did we serve this entity yesterday 14:00? — see
        :meth:`_snapshot_path`.  Degradation matches the head path's: a
        view NEVER materialized serves NOT_FOUND rows (it would have
        then, too), and a feature column added after the replayed
        instant serves NULL (serving then had no such column) — only an
        actually-expired snapshot errors."""
        path = self._snapshot_path(project, view_name, as_of)
        # Materialize the request frame ONCE as a LocalRelation: the
        # multiget contract already bounds it (the whole frame is
        # broadcast below), and the plan evaluates it twice (the
        # distinct-key semi filter and the final left join) — a classic
        # createDataFrame request frame is a pickled-RDD plan whose
        # every evaluation launches a default-parallelism Python stage
        # (guide §4).  One bounded collect gives both uses a JVM-side
        # frame and a single consistent snapshot of the request.
        from feast_spark.io.localframe import ensure_local

        entity_rows_df = ensure_local(entity_rows_df)
        keyed = entity_rows_df.withColumn(_KEY, encode_entity_key(join_keys))
        if path is None:
            out = keyed
            for f in feature_cols:
                out = out.withColumn(f, F.lit(None))
            return (
                out.withColumn("__found", F.lit(False))
                .withColumn(_EVENT_TS, F.lit(None).cast("timestamp"))
                .drop(_KEY)
            )
        snap = read_parquet_memo(spark, path)
        # a feature column the snapshot predates (schema evolution
        # lands new columns only in newer snapshots) serves NULL — on
        # the as_of path that IS the faithful replay; head snapshots
        # always carry every registered column via the write-side
        # evolution, so this is a no-op there
        present = [f for f in feature_cols if f in snap.columns]
        store = snap.select(_KEY, _EVENT_TS, *[F.col(f) for f in present])
        for f in feature_cols:
            if f not in present:
                store = store.withColumn(f, F.lit(None))
        # Scale path: broadcast the SMALL request-key set to semi-filter the
        # (potentially huge) store; the surviving rows are at most one per
        # request key, so they in turn broadcast for the left join.  The
        # store side streams — it is never shuffled or collected.
        hits = store.join(
            F.broadcast(keyed.select(_KEY).distinct()), on=_KEY, how="leftsemi"
        )
        out = keyed.join(F.broadcast(hits), on=_KEY, how="left")
        return out.withColumn("__found", F.col(_EVENT_TS).isNotNull()).drop(_KEY)
