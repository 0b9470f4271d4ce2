"""``offline_batch``: training-set retrieval, then a corpus build.

Retrieval phase (the training_set workload): each call is
``get_historical_features`` over an entity frame of ``ENTITY_ROWS``
seeded rows (Zipf-skewed user and customer keys, timestamps spread
over the feature history) joined point-in-time against three views
with ttls, one with created-timestamp duplicates, written out in full
with ``RetrievalJob.to_parquet``.  The first output is checked against
a DuckDB ``ASOF JOIN`` on rows, schema and hash; every later call must
hash the same.  The checks run in ``report``, after the timed calls
and the driver's peak-memory reading.

Corpus phase (the corpus_build workload, traced runs only): ``build_corpus`` with
near-dedup and decontamination against a held-out eval slice, over a
seed-perturbed ``COPIES``-copy expansion of the documents, written
out.  Output doc ids must be unique and drawn from the input, no two
outputs may share a text, and every build must hash the same.
"""

from __future__ import annotations

import contextlib
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import stats
from harness import Workload
from repo_def import TRAINING_VIEWS, VIEWS, make_store, refs

NOMINAL_SECONDS = 40.0
ENTITY_ROWS = 50_000
RETRIEVAL_CALLS = 8
WARMUP_CALLS = 3
CORPUS_BUILDS = 2
COPIES = 2
EVAL_MOD = 29
ALPHABET = "etaoinshrd"


def entity_frame(seed: int, n: int, n_sizes: dict, path: str) -> None:
    rng = np.random.default_rng([seed, 1])

    def zipf_keys(space: int) -> np.ndarray:
        return datagen.KeyDraw(rng, space).draw(rng, n).astype(np.int64)

    base = np.datetime64(datagen.EPOCH, "s")
    secs = rng.integers(0, datagen.SPAN_DAYS * 86_400, n)
    pq.write_table(pa.table({
        "user_id": zipf_keys(n_sizes["users"]),
        "cust_id": zipf_keys(n_sizes["customers"]),
        "event_timestamp": datagen.utc(
            (base + secs.astype("timedelta64[s]")).astype("datetime64[us]")
        ),
    }), path)


def corpus_docs(seed: int, src: str, path: str) -> None:
    """``COPIES`` copies of the documents, each copy's letters remapped
    by a seeded rotation of ``ALPHABET`` (copies are not near
    duplicates of each other), and 2% of each copy's documents given
    one seeded word swap."""
    rng = np.random.default_rng([seed, 2])
    docs = pq.read_table(src, columns=["doc_id", "text", "source"]).to_pydict()
    n = len(docs["doc_id"])
    shifts = rng.permutation(len(ALPHABET))[:COPIES]
    ids, texts, sources = [], [], []
    for c, shift in enumerate(shifts):
        rot = ALPHABET[shift:] + ALPHABET[:shift]
        table = str.maketrans(ALPHABET, rot)
        swap = set(rng.choice(n, n // 50, replace=False).tolist())
        for i, (doc_id, text, source) in enumerate(
            zip(docs["doc_id"], docs["text"], docs["source"])
        ):
            if i in swap:
                words = text.split()
                words[int(rng.integers(0, len(words)))] = datagen.WORDS[
                    int(rng.integers(0, len(datagen.WORDS)))
                ]
                text = " ".join(words)
            ids.append(doc_id * COPIES + c)
            texts.append(text.translate(table))
            sources.append(source)
    pq.write_table(
        pa.table({"doc_id": ids, "text": texts, "source": sources}), path
    )


def _oracle_sql(paths: dict, entity: str) -> str:
    """The retrieval as DuckDB ``ASOF LEFT JOIN``s: per view, keep the
    newest created row per (key, ts), join the latest row at or before
    the entity timestamp, and null it out beyond the ttl."""
    sel = ["e.event_timestamp", "e.user_id", "e.cust_id"]
    joins = []
    for i, view in enumerate(TRAINING_VIEWS):
        table, src_key, key, ts, created, ttl, feats = VIEWS[view]
        names = [n for n, _ in feats]
        order = f"ORDER BY {created} DESC" if created else "ORDER BY 1"
        cols = ", ".join(names)
        joins.append(
            f"ASOF LEFT JOIN (SELECT {src_key} AS k, {ts} AS t, {cols} "
            f"FROM read_parquet('{paths[table]}') QUALIFY row_number() "
            f"OVER (PARTITION BY {src_key}, {ts} {order}) = 1) v{i} "
            f"ON e.{key} = v{i}.k AND e.event_timestamp >= v{i}.t"
        )
        secs = int(ttl.total_seconds())
        for name in names:
            sel.append(
                f"CASE WHEN v{i}.t >= e.event_timestamp - INTERVAL "
                f"{secs} SECOND THEN v{i}.{name} END AS {name}"
            )
    return (
        f"SELECT {', '.join(sel)} FROM read_parquet('{entity}') e "
        + " ".join(joins)
    )


def _digest(con, relation: str, cols: list[str]) -> tuple[int, int]:
    """(rows, order-independent hash) of a relation's columns."""
    exprs = ", ".join(
        f"epoch_us({c})" if c == "event_timestamp" else c for c in cols
    )
    n, h = con.execute(
        f"SELECT count(*), sum(hash({exprs})::HUGEINT) FROM ({relation})"
    ).fetchone()
    return int(n), int(h or 0)


def _schema(con, relation: str) -> list[tuple[str, str]]:
    rows = con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    return [(r[0], r[1].replace(" WITH TIME ZONE", "")) for r in rows]


class Batch(Workload):
    def __init__(self, run, seed: int, scale: float, tracer):
        super().__init__(run, seed, scale, tracer)
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(f"SET temp_directory = '{run.path('tmp')}'")

    def build(self) -> None:
        run = self.run
        self.spark = self._timed("session", run.start_spark)
        self.tr.attach(self.spark)
        n_sizes = datagen.sizes(self.scale)
        self.n_entity = max(1_000, int(ENTITY_ROWS * self.scale))

        def data():
            paths = datagen.generate_in_child(run, run.path("data"), self.scale)
            self.entity = run.path("entity.parquet")
            entity_frame(self.seed, self.n_entity, n_sizes, self.entity)
            if self.tr.enabled:
                self.docs = run.path("docs.parquet")
                corpus_docs(self.seed, paths["documents"], self.docs)
            return paths

        self.paths = self._timed("data", data)
        self.store = self._timed(
            "materialize",
            lambda: make_store(
                self.spark, run.path("repo"), self.paths, TRAINING_VIEWS
            ),
        )

    # -- retrieval -----------------------------------------------------
    def _features(self) -> list[str]:
        return [r for view in TRAINING_VIEWS for r in refs(view)]

    def retrieve(self, i: int) -> tuple[float, str]:
        out = self.run.path("out", f"training-{i}")
        with self.tr.span("phase.retrieval"):
            t0 = time.monotonic()
            entity = self.spark.read.parquet(self.entity)
            job = self.store.get_historical_features(entity, self._features())
            self.tr.planned(job.to_spark_df())
            job.to_parquet(out)
            took = time.monotonic() - t0
        return took, out

    def _check_retrieval(self, out: str, first: bool) -> bool:
        rel = f"SELECT * FROM read_parquet('{out}/*.parquet')"
        cols = [c for c, _ in _schema(self.con, rel)]
        got = _digest(self.con, rel, cols)
        if first:
            oracle = _oracle_sql(self.paths, self.entity)
            self.retrieval_digest = _digest(self.con, oracle, cols)
            if _schema(self.con, rel) != _schema(self.con, oracle):
                return False
        return got == self.retrieval_digest and got[0] == self.n_entity

    # -- corpus ----------------------------------------------------------
    def corpus(self, i: int) -> tuple[float, str]:
        from pyspark.sql import functions as F

        from feast_spark.pipelines.corpus import CorpusConfig, build_corpus

        out = self.run.path("out", f"corpus-{i}")
        with self.tr.span("phase.corpus"):
            t0 = time.monotonic()
            docs = self.spark.read.parquet(self.docs)
            eval_df = docs.filter(
                (F.col("doc_id") % (EVAL_MOD * COPIES)) == 0
            ).select("doc_id", "text")
            train = docs.filter((F.col("doc_id") % (EVAL_MOD * COPIES)) != 0)
            built = build_corpus(train, eval_df=eval_df, config=CorpusConfig())
            self.tr.planned(built)
            with self.tr.span("corpus.write"):
                built.write.mode("overwrite").parquet(out)
            took = time.monotonic() - t0
        return took, out

    def _check_corpus(self, out: str) -> bool:
        rel = f"read_parquet('{out}/*.parquet')"
        n, ids, texts, outside = self.con.execute(
            f"SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text), "
            f"count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM "
            f"read_parquet('{self.docs}'))) FROM {rel}"
        ).fetchone()
        digest = _digest(self.con, f"SELECT doc_id, text, split FROM {rel}",
                         ["doc_id", "text", "split"])
        if not hasattr(self, "corpus_digest"):
            self.corpus_digest = digest
        return (
            0 < n == ids == texts and outside == 0 and digest == self.corpus_digest
        )

    warmup_calls = WARMUP_CALLS

    def measure(self, seconds: float) -> None:
        """The timed calls.  Their outputs stay on disk for ``report``."""
        f = seconds / NOMINAL_SECONDS
        n = max(2, round((RETRIEVAL_CALLS - WARMUP_CALLS) * f))
        # the first calls pay the JVM's first-use costs (code generation,
        # JIT compilation): they are warm-up, not samples.  A traced run
        # puts an untraced call between traced ones, for the overhead.
        untraced_slots = n - 1 if self.tr.enabled else 0
        plan = [False] * WARMUP_CALLS + [False, True] * untraced_slots + [False]
        plan += [False] * (n - 1 - untraced_slots)
        self.calls = []
        for i, paused in enumerate(plan):
            with self.tr.paused() if paused else contextlib.nullcontext():
                took, out = self.retrieve(i)
            self.calls.append((i, paused, took, out))
        self.builds = []
        if self.tr.enabled:
            for i in range(max(2, round(CORPUS_BUILDS * f))):
                self.builds.append(self.corpus(i))

    def report(self) -> dict:
        """Check every output; the metrics over the calls that passed."""
        times: dict[bool, list[float]] = {False: [], True: []}
        for i, paused, took, out in self.calls:
            self.attempted += 1
            if not self._check_retrieval(out, first=i == 0):
                self.failed += 1
                self.failures.append(f"retrieval call {i} differs from the oracle")
            elif i >= WARMUP_CALLS:
                times[paused].append(took)
        self.retrieval_times = times[False]
        self.corpus_times = []
        for i, (took, out) in enumerate(self.builds):
            self.attempted += 1
            if self._check_corpus(out):
                self.corpus_times.append(took)
            else:
                self.failed += 1
                self.failures.append(f"corpus build {i} failed its checks")
        if self.tr.enabled:
            self.overhead_ratio = stats.median(times[False]) / stats.median(
                times[True]
            )
            self.useful_rows = self._useful_rows()
        self.samples = {
            "retrieval_s": self.retrieval_times, "corpus_build_s": self.corpus_times,
        }
        retrieval_s = stats.median(self.retrieval_times)
        return {"latency_ms": 1000.0 * retrieval_s}

    def _useful_rows(self) -> dict[str, int]:
        """Per training view, keyed by its (unique) event-time column, the
        rows whose event time falls in [min entity ts - ttl, max entity
        ts]: what a scan pruned to the entity frame's time range must
        read."""
        lo, hi = self.con.execute(
            f"SELECT min(event_timestamp), max(event_timestamp) "
            f"FROM read_parquet('{self.entity}')"
        ).fetchone()
        out = {}
        for view in TRAINING_VIEWS:
            table, _sk, _k, ts, _c, ttl, _f = VIEWS[view]
            n = self.con.execute(
                f"SELECT count(*) FROM read_parquet('{self.paths[table]}') "
                f"WHERE {ts} BETWEEN ?::TIMESTAMPTZ - INTERVAL "
                f"{int(ttl.total_seconds())} SECOND AND ?",
                [lo, hi],
            ).fetchone()[0]
            out[ts] = n
        return out

    def close(self) -> None:
        self.con.close()
