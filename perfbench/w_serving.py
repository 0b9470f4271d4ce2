"""``online_serving``: the HTTP feature server under an open-loop read
mix, its closed-loop capacity, and reads beside stream writes.

The benchmark process is the server: a FeatureStore with a parquet
online store holding two views (``user_activity``, about 1.5k hot
keys, and ``order_status``, about 150k keys) behind an
``OnlineServingServer``.  A separate load generator process
(``loadgen.py``) sends the requests.  Set-up ends with a closed loop of
``WARMUP_READS`` reads.  Phases, in order:

1. ``read``: open loop at ``READ_RATE`` requests/s, ``READ_FEATURES``
   feature reads of 1-50 Zipf-drawn keys (``HOT_SHARE`` of them on the
   hot view, the rest on the order view).
2. ``capacity`` (traced runs only): closed loop, ``CONNECTIONS``
   connections sending ``CAPACITY_ROUNDS`` reads each of the same mix.
   Throughput counts the completions after the first round, from the
   last completion of that round to the last completion of all.
3. ``search`` (traced runs only): the server also holds a
   ``HybridQueryCoalescer`` over BM25 and IVF indexes of the documents
   and embeddings, and ``SEARCH_REQUESTS`` hybrid searches arrive in an
   open loop.
4. ``fresh`` (traced runs only): ``start_stream_ingestion`` feeds
   ``user_activity`` from a file stream; the generator lands
   ``FRESH_FILES`` event files on a fixed schedule and reads the hot
   view at ``FRESH_RATE`` requests/s, probing the keys it landed.

Phases 3 and 4 cost 15-25 s of index build and about 20 s of stream
start, landings and probes, which the untraced runs cannot afford
inside the benchmark's time budget; their numbers are per-layer.  So
is the capacity of phase 2: four saturating connections make it about
three times as sensitive to other load on the host as the open-loop
latency (run-to-run spread 0.17-0.20 against 0.06-0.07 over five
seeds), too noisy for an end-to-end bound.

Every feature response is checked against values computed with pandas
from the view sources (plus the landed rows in the fresh phase); every
search response is checked for shape, known ids and rank order.  The
checks run in ``report``, after the driver's peak memory is read.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import urllib.request
from datetime import datetime

import numpy as np
import pandas as pd

import datagen
import stats
from harness import Workload
from feast_spark.io import model_cache
from repo_def import ONLINE_VIEWS, PROJECT, VIEWS, make_store, refs

# Phase plan at the nominal run length (NOMINAL_SECONDS); shorter
# runs scale every count down.  The offered read rate is about half the
# closed-loop capacity measured on a 4-core host shared with other load
# (1.2-2.0 req/s).  16 reads put the tail at p68 (stats.tail_pct).
NOMINAL_SECONDS = 40.0
READ_RATE = 0.7
READ_FEATURES = 16
CAPACITY_ROUNDS = 4
CONNECTIONS = 4
WARMUP_READS = 16
FRESH_RATE = 0.8
FRESH_READS = 12
FRESH_FILES = 3
LAND_EVERY = 1.5
KEYS_PER_FILE = 8
FRESH_GRACE = 8.0
# reads go on this much longer while a landed key is still unseen
FRESH_TIMEOUT = 30.0
SEARCH_RATE = 0.8
SEARCH_REQUESTS = 8
# Reads split evenly between the two views: nothing in the workload
# weights one over the other, and both take the same read path.
HOT_SHARE = 0.5
SEARCH_K = 10
STREAM_BASE_TS = "2024-03-05T00:00:00"


def _truth(paths: dict[str, str]) -> dict[str, dict[int, dict]]:
    """Per online view: key -> {feature: set of acceptable values}.
    The newest (event ts, created ts) row wins; exact ties accept every
    tied value."""
    out = {}
    for view in ONLINE_VIEWS:
        table, src_key, _key, ts, created, _ttl, feats = VIEWS[view]
        names = [n for n, _ in feats]
        order = [ts] + ([created] if created else [])
        df = pd.read_parquet(paths[table], columns=[src_key] + order + names)
        last = (
            df.sort_values([src_key] + order).groupby(src_key).tail(1)
            .set_index(src_key)[order]
        )
        df = df.join(last, on=src_key, rsuffix="__max")
        tied = df[np.logical_and.reduce([df[c] == df[f"{c}__max"] for c in order])]
        truth: dict[int, dict] = {}
        for row in tied[[src_key] + names].itertuples(index=False):
            entry = truth.setdefault(int(row[0]), {n: set() for n in names})
            for n, v in zip(names, row[1:]):
                entry[n].add(v)
        out[view] = truth
    return out


def _check_features(rec, truth, landed, key_col) -> bool:
    rows = rec["resp"].get("field_values") if rec["resp"] else None
    want = rec["req"]["entity_rows"]
    if rows is None or len(rows) != len(want):
        return False
    for asked, got in zip(want, rows):
        fields = got["fields"]
        k = asked[key_col]
        if fields.get(key_col) != k:
            return False
        expect = truth.get(k)
        for name, value in fields.items():
            if name == key_col:
                continue
            ok = expect is not None and value in expect[name]
            if not ok and name == "value":
                ok = value in landed.get(k, ())
            if not ok and name == "event_type":
                ok = value == "stream" and bool(landed.get(k))
            if not ok and expect is None and value is None:
                ok = True
            if not ok:
                return False
    return True


def _check_search(rec, n_ids: int) -> bool:
    results = (rec["resp"] or {}).get("results")
    if not isinstance(results, list) or not 0 < len(results) <= SEARCH_K:
        return False
    rrf = [r["rrf"] for r in results]
    return all(0 <= r["id"] < n_ids for r in results) and rrf == sorted(
        rrf, reverse=True
    )


def _landed_before(landings, t) -> dict[int, set]:
    out: dict[int, set] = {}
    for land in landings:
        if land["t"] <= t:
            for k, v in zip(land["keys"], land["values"]):
                out.setdefault(k, set()).add(v)
    return out


def _latency_ms(recs) -> list[float]:
    """Client latency timed from when each request was due."""
    return [(r["done"] - r["due"]) * 1000.0 for r in recs]


def _closed_rate(recs, connections: int) -> float:
    """Closed-loop completions per second, leaving out the first round:
    the completions after the ``connections``-th, over the time from it
    to the last."""
    done = sorted(r["done"] for r in recs)
    if len(done) <= connections:
        raise ValueError(f"{len(done)} completions leave none after the first round")
    return (len(done) - connections) / (done[-1] - done[connections - 1])


def _read_jsonl(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class Serving(Workload):
    # -- setup -------------------------------------------------------
    def build(self) -> None:
        run = self.run
        self.spark = self._timed("session", run.start_spark)
        self.tr.attach(self.spark)
        self.paths = self._timed(
            "data",
            lambda: datagen.generate_in_child(run, run.path("data"), self.scale),
        )

        def materialize():
            store = make_store(
                self.spark, run.path("repo"), self.paths, ONLINE_VIEWS
            )
            lo, hi = datetime(2023, 1, 1), datetime(2025, 1, 1)
            store.materialize(lo, hi, list(ONLINE_VIEWS))
            return store

        self.store = self._timed("materialize", materialize)
        if self.tr.enabled:
            self._timed("index_build", self._build_indexes)
        self.sizes = datagen.sizes(self.scale)
        self._timed("warmup", self._start_server)

    def _build_indexes(self) -> None:
        from feast_spark.operators.bm25 import build_bm25_index
        from feast_spark.operators.similarity import build_ivf_index

        spark = self.spark
        docs = spark.read.parquet(self.paths["documents"])
        emb = spark.read.parquet(self.paths["embeddings"])
        self.bm25 = self.run.path("index", "bm25")
        self.ivf = self.run.path("index", "ivf")
        build_bm25_index(docs, self.bm25, "doc_id", "text", n_term_buckets=16)
        build_ivf_index(emb, self.ivf, n_centroids=16, iters=2)

    def _start_server(self) -> None:
        from feast_spark.serving import HybridQueryCoalescer, OnlineServingServer

        self.coalescer = None
        if self.tr.enabled:
            self.coalescer = HybridQueryCoalescer(
                self.spark, self.bm25, self.ivf, k=SEARCH_K, n_probe=4
            )
        self.server = OnlineServingServer(
            self.store, port=0, retrieval=self.coalescer
        ).start()
        self.tr.serve(self.server)
        # a closed loop of reads over HTTP pays the read path's first-use
        # costs (schema memos, code generation, JIT) before anything is
        # timed; the JVM is still warming up for several requests
        self.warmup_recs = self._load("warmup", [{
            "name": "warmup", "kind": "closed", "connections": CONNECTIONS,
            "n_features": WARMUP_READS, "n_search": 0,
        }])

    # -- load --------------------------------------------------------
    def _plan(self, phases: list[dict]) -> dict:
        key_space = {
            "user_activity": self.sizes["users"],
            "order_status": self.sizes["orders"],
        }
        return {
            "seed": self.seed,
            "address": self.server.address,
            "key_space": key_space,
            "join_key": {v: VIEWS[v][2] for v in ONLINE_VIEWS},
            "refs": {v: refs(v) for v in ONLINE_VIEWS},
            "hot_view": "user_activity",
            "cold_view": "order_status",
            "hot_share": HOT_SHARE,
            "words": datagen.WORDS,
            "dim": datagen.DIM,
            "phases": phases,
        }

    def _load(self, name: str, phases: list[dict]) -> list[dict]:
        plan_path = self.run.path(f"{name}.plan.json")
        out_path = self.run.path(f"{name}.out.jsonl")
        with open(plan_path, "w") as f:
            json.dump(self._plan(phases), f)
        gen = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")
        proc = self.run.spawn([sys.executable, gen, plan_path, out_path])
        if proc.wait() != 0:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        return _read_jsonl(out_path)

    def _verify(self, recs: list[dict], landings=()) -> list[dict]:
        """Check each response; return the records that passed."""
        ok = []
        n_ids = max(self.sizes["documents"], self.sizes["embeddings"])
        for rec in recs:
            self.attempted += 1
            good = rec["status"] == 200
            if good and rec["path"] == "/hybrid-search":
                good = _check_search(rec, n_ids)
            elif good:
                view = rec["view"]
                landed = _landed_before(landings, rec["done"])
                good = _check_features(
                    rec, self.truth[view], landed, VIEWS[view][2]
                )
            if good:
                ok.append(rec)
            else:
                self.failed += 1
                self.failures.append(f"{rec['phase']}-{rec['i']}: {rec['status']}")
        return ok

    def measure(self, seconds: float) -> None:
        """Send the load.  The records are checked in ``report``."""
        f = seconds / NOMINAL_SECONDS
        n = lambda count: max(2, round(count * f))
        n_files = n(FRESH_FILES)
        # reads go on FRESH_GRACE seconds past the last landing
        n_fresh = max(
            n(FRESH_READS),
            math.ceil((n_files * LAND_EVERY + FRESH_GRACE) * FRESH_RATE),
        )
        self.plan_counts = {
            "features": n(READ_FEATURES), "fresh_reads": n_fresh,
            "landed": n_files * KEYS_PER_FILE,
        }
        read = {"name": "read", "kind": "open", "rate": READ_RATE,
                "n_features": n(READ_FEATURES), "n_search": 0}
        cap = {"name": "capacity", "kind": "closed", "connections": CONNECTIONS,
               "n_features": CONNECTIONS * max(3, round(CAPACITY_ROUNDS * f)),
               "n_search": 0}
        phases = [read]
        if self.tr.enabled:
            phases.append(cap)
            phases.append({
                "name": "search", "kind": "open", "rate": SEARCH_RATE,
                "n_features": 0, "n_search": SEARCH_REQUESTS,
            })
        self.tr.mark("read")
        cache0 = model_cache.stats()
        recs = self._load("serve", phases)
        cache1 = model_cache.stats()
        self.model_cache_stats = {k: cache1[k] - cache0[k] for k in ("hits", "misses")}
        with urllib.request.urlopen(self.server.address + "/metrics") as resp:
            self.server_metrics = json.load(resp)
        self.coalescer_stats = self.server_metrics["coalescers"].get("retrieval")
        self.by_phase = {p["name"]: [r for r in recs if r["phase"] == p["name"]]
                         for p in phases}
        self.read_recs = self.by_phase["read"]
        if self.tr.enabled:
            self._fresh(n_fresh, n_files)

    def report(self) -> dict:
        """Check every response; the metrics over those that passed."""
        self.truth = _truth(self.paths)
        self._verify(self.warmup_recs)
        good_read = self._verify(self.read_recs)
        self.search_recs = self._verify(self.by_phase.get("search", []))
        feats = _latency_ms(good_read)
        self.samples = {
            "features_ms": [round(x, 1) for x in feats],
            "features_tail_ms": stats.tail_of(feats, self.plan_counts["features"]),
        }
        if self.tr.enabled:
            good_cap = self._verify(self.by_phase["capacity"])
            self.capacity_rps = _closed_rate(good_cap, CONNECTIONS)
            self.fresh = self._fresh_report()
        return {"latency_ms": stats.median(feats)}

    def _fresh(self, n_reads: int, n_files: int) -> None:
        import pyarrow.parquet as pq

        stream_dir = self.run.path("stream", "in")
        staging = self.run.path("stream", "staging")
        os.makedirs(stream_dir)
        os.makedirs(staging)
        schema = self.spark.read.parquet(self.paths["events"]).schema
        # the stream starts on one old event, so its first micro-batch
        # runs before the generator lands anything
        first = pq.read_table(self.paths["events"]).slice(0, 1)
        pq.write_table(first, os.path.join(stream_dir, "seed.parquet"))
        self.tr.mark("fresh")
        raw = self.spark.readStream.schema(schema).parquet(stream_dir)
        self.query = self.store.start_stream_ingestion(
            "user_activity",
            checkpoint_dir=self.run.path("stream", "checkpoint"),
            raw_stream=raw,
        )
        try:
            deadline = time.monotonic() + 60
            while not self.query.recentProgress and time.monotonic() < deadline:
                time.sleep(0.1)
            fresh = {
                "name": "fresh", "kind": "fresh", "rate": FRESH_RATE,
                "n_reads": n_reads, "n_files": n_files,
                "max_reads": n_reads + math.ceil(FRESH_TIMEOUT * FRESH_RATE),
                "land_every": LAND_EVERY, "keys_per_file": KEYS_PER_FILE,
                "stream_dir": stream_dir, "staging_dir": staging,
                "base_ts": STREAM_BASE_TS,
            }
            recs = self._load("fresh", [fresh])
            self.progress = list(self.query.recentProgress)
        finally:
            self.query.stop()
        self.landings = [r for r in recs if "land" in r]
        self.fresh_recs = [r for r in recs if "status" in r]

    def _fresh_report(self) -> dict:
        good = self._verify(self.fresh_recs, self.landings)
        fresh_s = []
        for land in self.landings:
            for k, v in zip(land["keys"], land["values"]):
                seen = [
                    r["done"] for r in good
                    if r["done"] >= land["t"] and any(
                        row["fields"].get("user_id") == k
                        and row["fields"].get("value") == v
                        for row in r["resp"]["field_values"]
                    )
                ]
                self.attempted += 1
                if seen:
                    fresh_s.append(min(seen) - land["t"])
                else:
                    self.failed += 1
                    self.failures.append(f"landed key {k} never read back")
        lat = _latency_ms(good)
        self.samples.update(fresh_reads=len(lat), freshness=len(fresh_s))
        c = self.plan_counts
        return {
            "freshness_p50_s": stats.median(fresh_s),
            "freshness_tail_s": stats.tail_of(fresh_s, c["landed"]),
            "fresh_features_p50_ms": stats.median(lat),
            "fresh_features_tail_ms": stats.tail_of(lat, c["fresh_reads"]),
        }

    keys_per_file = KEYS_PER_FILE

    def snapshot_size(self) -> tuple[int, int]:
        """Rows and bytes of the hot view's current online snapshot."""
        from feast_spark.io.manifest import ManifestedParquetTable
        from layers import snapshot_size

        table = self.run.path("repo", "online", PROJECT, "user_activity")
        return snapshot_size(ManifestedParquetTable(table).current_path())

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.stop()
        co = getattr(self, "coalescer", None)
        if co is not None:
            co.close()
