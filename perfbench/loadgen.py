"""Seeded HTTP load generator, run as its own process:

    python3 loadgen.py PLAN.json OUT.jsonl

The plan (written by the serving workload) names the server address,
the key spaces and the phases.  Every request body comes from the
plan's seed.  The generator uses at most ``CONNECTIONS`` worker
threads, each holding one request at a time.

Phases:

- ``open``: ``n_features`` feature reads and ``n_search`` hybrid
  searches in a seeded order, due on a fixed schedule at ``rate`` per
  second whether or not earlier ones finished.  Latency is timed from
  the due time, so a stall is charged to every request queued behind
  it; ``sent - due`` is how late the generator ran.
- ``closed``: the same kind of mix, sent by ``connections`` workers
  that each send their next request as soon as the previous returns.
- ``fresh``: ``n_reads`` open-loop feature reads of the hot view, while
  ``n_files`` event files land in the stream directory every
  ``land_every`` seconds on a fixed schedule; reads go on, up to
  ``max_reads``, until every landed key has been read back.  Each read
  carries the keys landed but not yet seen with their new value, so the
  first read that returns a landed value marks that key fresh.

Every request and landing is written to OUT as one JSON line; the
workload checks the responses and computes the metrics from them.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import sys
import threading
import time
from datetime import datetime, timedelta

import numpy as np

from datagen import KeyDraw

CONNECTIONS = 4
TIMEOUT_S = 60.0
MAX_ROWS = 50
WORDS_PER_QUERY = (1, 3)


def rows_per_request(rng: np.random.Generator) -> int:
    """1-50 entity rows, uniformly: the range is the workload's, and a
    uniform draw adds no shape parameter of its own."""
    return int(rng.integers(1, MAX_ROWS + 1))


class Requests:
    """The seeded request stream of one phase."""

    def __init__(self, plan: dict, seed: int):
        self.rng = np.random.default_rng(seed)
        self.plan = plan
        self.keys = {
            view: KeyDraw(np.random.default_rng([seed, i]), n)
            for i, (view, n) in enumerate(sorted(plan["key_space"].items()))
        }

    def features(self, view: str, extra: list[int] | None = None) -> dict:
        keys = [int(k) for k in
                self.keys[view].draw(self.rng, rows_per_request(self.rng))]
        if extra:
            keys = (list(extra) + keys)[:MAX_ROWS]
        key_col = self.plan["join_key"][view]
        return {
            "path": "/get-online-features",
            "view": view,
            "body": {
                "features": self.plan["refs"][view],
                "entity_rows": [{key_col: k} for k in keys],
            },
        }

    def search(self) -> dict:
        words = self.plan["words"]
        n = int(self.rng.integers(WORDS_PER_QUERY[0], WORDS_PER_QUERY[1] + 1))
        terms = [words[i] for i in self.rng.choice(len(words), n, replace=False)]
        vec = self.rng.normal(size=self.plan["dim"])
        vec = (vec / np.linalg.norm(vec)).tolist()
        return {
            "path": "/hybrid-search",
            "view": None,
            "body": {"terms": terms, "vector": vec},
        }

    def mix(self, n_features: int, n_search: int) -> list:
        """Request makers for a phase in a seeded order: ``n_features``
        feature reads, ``round(hot_share * n_features)`` of them on the
        hot view and the rest on the cold view (fixed counts, so every
        seed reads the same mix), and ``n_search`` hybrid searches."""
        n_hot = round(self.plan["hot_share"] * n_features)
        kinds = (["hot"] * n_hot + ["cold"] * (n_features - n_hot)
                 + ["search"] * n_search)
        self.rng.shuffle(kinds)
        views = {"hot": self.plan["hot_view"], "cold": self.plan["cold_view"]}
        return [
            self.search if kind == "search"
            else (lambda view=views[kind]: self.features(view))
            for kind in kinds
        ]


def send(address: str, req: dict, req_id: str) -> tuple[int, dict | None]:
    host, port = address.split("//", 1)[1].split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=TIMEOUT_S)
    try:
        conn.request(
            "POST", req["path"], body=json.dumps(req["body"]),
            headers={"Content-Type": "application/json", "X-Request-Id": req_id},
        )
        resp = conn.getresponse()
        data = resp.read()
        try:
            return resp.status, json.loads(data)
        except ValueError:
            return resp.status, None
    except (OSError, http.client.HTTPException):
        return 0, None
    finally:
        conn.close()


class Recorder:
    def __init__(self, path: str):
        self.f = open(path, "w")
        self.lock = threading.Lock()

    def write(self, rec: dict) -> None:
        line = json.dumps(rec)
        with self.lock:
            self.f.write(line + "\n")

    def close(self) -> None:
        self.f.close()


def _record(name, i, req, due, sent, status, body) -> dict:
    return {
        "phase": name, "i": i, "path": req["path"], "view": req["view"],
        "due": due, "sent": sent, "done": time.monotonic(),
        "status": status, "req": req["body"], "resp": body,
    }


def run_open(address, name, rate, makers, write):
    """Open loop: request i is due at start + i / rate, whatever the
    state of earlier requests; ``makers[i]()`` builds it when due and
    ``write`` receives each finished record."""
    work: queue.Queue = queue.Queue()

    def worker():
        while True:
            item = work.get()
            if item is None:
                return
            i, due, req = item
            sent = time.monotonic()
            status, body = send(address, req, f"{name}-{i}")
            write(_record(name, i, req, due, sent, status, body))

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    start = time.monotonic() + 0.05
    for i, make in enumerate(makers):
        due = start + i / rate
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        work.put((i, due, make()))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()


def run_closed(address, name, connections, makers, write):
    """Closed loop: ``connections`` workers each send the next request
    as soon as their previous one returns, until ``makers`` is used up."""
    lock = threading.Lock()
    todo = list(enumerate(makers))

    def worker():
        while True:
            with lock:
                if not todo:
                    return
                i, make = todo.pop(0)
                req = make()
            sent = time.monotonic()
            status, body = send(address, req, f"{name}-{i}")
            write(_record(name, i, req, sent, sent, status, body))

    threads = [threading.Thread(target=worker) for _ in range(connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def land_file(stream_dir: str, staging: str, i: int, rows: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"land-{i:05d}.parquet"
    tmp = os.path.join(staging, name)
    utc = pa.timestamp("us", tz="UTC")
    table = pa.table({
        k: pa.array(v, type=utc) if k in ("ts", "created_ts") else v
        for k, v in rows.items()
    })
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(stream_dir, name))


def run_fresh(address, phase, reqs: Requests, write, plan: dict):
    """Land ``n_files`` files, one every ``land_every`` seconds on a
    fixed schedule, from one thread while the open loop reads the hot
    view; each read carries the landed keys not yet seen fresh."""
    view = plan["hot_view"]
    key_col = plan["join_key"][view]
    rng = np.random.default_rng([plan["seed"], 7])
    lock = threading.Lock()
    pending: dict[int, float] = {}  # key -> landed value not yet seen
    base_ts = datetime.fromisoformat(phase["base_ts"])
    start = time.monotonic() + 0.05
    order = [int(k) for k in rng.permutation(plan["key_space"][view])]

    def lander():
        per = phase["keys_per_file"]
        for i in range(phase["n_files"]):
            due = start + (i + 0.5) * phase["land_every"]
            keys = order[i * per:(i + 1) * per]
            values = [float(1_000_000 + i * 1000 + j) for j in range(len(keys))]
            ts = [base_ts + timedelta(seconds=i) for _ in keys]
            rows = {
                "event_id": [10**9 + i * 1000 + j for j in range(len(keys))],
                "ts": ts, "created_ts": ts,
                key_col: keys, "event_type": ["stream"] * len(keys),
                "value": values,
            }
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            land_file(phase["stream_dir"], phase["staging_dir"], i, rows)
            landed = time.monotonic()
            with lock:
                pending.update(zip(keys, values))
            write({
                "phase": phase["name"], "land": i, "due": due, "t": landed,
                "keys": keys, "values": values,
            })

    def probe():
        with lock:
            extra = list(pending)[:25]
        return reqs.features(view, extra)

    def on_read(rec_line: dict) -> None:
        rows = (rec_line.get("resp") or {}).get("field_values") or []
        with lock:
            for r in rows:
                fields = r.get("fields") or {}
                k = fields.get(key_col)
                if k in pending and fields.get("value") == pending[k]:
                    del pending[k]
        write(rec_line)

    def probes():
        """``n_reads`` reads, then more while landed keys are unseen,
        up to ``max_reads``."""
        for i in range(phase["max_reads"]):
            if i >= phase["n_reads"]:
                with lock:
                    done = landed_all.is_set() and not pending
                if done:
                    return
            yield probe

    landed_all = threading.Event()

    def land_then_flag():
        lander()
        landed_all.set()

    land_thread = threading.Thread(target=land_then_flag)
    land_thread.start()
    run_open(address, phase["name"], phase["rate"], probes(), on_read)
    land_thread.join()


def main() -> None:
    plan_path, out_path = sys.argv[1], sys.argv[2]
    with open(plan_path) as f:
        plan = json.load(f)
    rec = Recorder(out_path)
    address = plan["address"]
    try:
        for k, phase in enumerate(plan["phases"]):
            reqs = Requests(plan, plan["seed"] * 100 + k)
            name, kind = phase["name"], phase["kind"]
            if kind == "open":
                makers = reqs.mix(phase["n_features"], phase["n_search"])
                run_open(address, name, phase["rate"], makers, rec.write)
            elif kind == "closed":
                makers = reqs.mix(phase["n_features"], phase["n_search"])
                run_closed(address, name, phase["connections"], makers, rec.write)
            elif kind == "fresh":
                run_fresh(address, phase, reqs, rec.write, plan)
            else:
                raise ValueError(f"unknown phase kind {kind!r}")
    finally:
        rec.close()


if __name__ == "__main__":
    main()
