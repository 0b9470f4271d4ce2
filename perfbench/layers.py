"""Per-layer metrics of a traced run, from the spans, the Spark status
store, the server's own counters and the load generator's records.

Every traced run reports every name in ``NAMES``: a layer that does
not run in a workload reads 0 there, which is the prediction for it.
Phase prefixes keep two phases of one workload apart: ``corpus.`` for
the corpus phase of ``offline_batch``, ``fresh.`` for the stream phase
of ``online_serving``.
"""

from __future__ import annotations

import os
import statistics

import spans as tracing

SETUP = ("session", "data", "materialize", "index_build", "warmup")
SPARK = (
    "plan_s", "exchanges", "exec_s", "jobs", "stages", "tasks", "task_skew",
    "scan_rows", "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "python_eval_s", "cached_scans",
)
PER_REQUEST = (
    "feature_store.online_ms_p50", "io.pread.hit_ratio",
    "spark.jobs_per_request", "serving.queue_ms_p50",
)
NAMES = (
    [f"setup.{s}_s" for s in SETUP]
    + ["feature_store.historical_build_s", "feature_store.historical_build_jobs",
       "operators.asof_join.build_s", "operators.asof_join.scan_useful_ratio"]
    + [f"spark.{m}" for m in SPARK]
    + ["pipelines.corpus.build_s"]
    + [f"corpus.spark.{m}" for m in SPARK]
    + list(PER_REQUEST)
    + ["search_p50_ms", "online.store.read_call_ms_p50",
       "io.localframe.ensure_local_ms_p50",
       "io.manifest.reads_per_request", "spark.tasks_per_request",
       "spark.exec_ms_per_request", "serving.handler_ms_p50",
       "serving.backlog_max", "serving.capacity_rps",
       "serving.coalescer.wait_ms_avg",
       "serving.coalescer.serve_ms_per_batch", "serving.coalescer.batch_size_avg",
       "serving.coalescer.failed_batches", "operators.bm25.batch_jobs",
       "io.model_cache.hit_ratio", "loadgen.late_ms_p50", "loadgen.late_ms_max"]
    + [f"fresh.{m}" for m in PER_REQUEST]
    + ["fresh.freshness_p50_s", "fresh.freshness_tail_s",
       "fresh.read_ms_p50", "fresh.read_tail_ms"]
    + ["streaming.ingest.batch_s_p50", "streaming.ingest.add_batch_s_p50",
       "streaming.ingest.backlog_files_max", "streaming.ingest.rows_per_s",
       "online.store.write_s_p50", "io.manifest.commit_s_p50",
       "spark.jobs_per_commit", "online.store.write_amplification",
       "online.store.bytes_written_per_commit"]
    + [f"self.{name}_s" for name in list(tracing.TARGETS) + ["serving.handler"]]
    + ["trace.overhead_ratio"]
)


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Attribution:
    """Spark counters summed over a span and all its descendants."""

    def __init__(self, tracer, status):
        self.tr = tracer
        self.st = status
        self.children: dict[int, list] = {}
        for s in tracer.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[int, list[int]] = {}
        for jid, job in status.jobs.items():
            self.jobs_of.setdefault(job["span"], []).append(jid)
        self.sql_of: dict[int, list[dict]] = {}
        for ex in status.sql:
            for sid in ex["spans"]:
                self.sql_of.setdefault(sid, []).append(ex)

    def subtree(self, span) -> list:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.id, []))
        return out

    def jobs(self, span) -> list[int]:
        return [j for s in self.subtree(span) for j in self.jobs_of.get(s.id, [])]

    def stages(self, span) -> list[int]:
        seen = []
        for j in self.jobs(span):
            for st in self.st.jobs[j]["stages"]:
                if st in self.st.stages and st not in seen:
                    seen.append(st)
        return seen

    def sql(self, span) -> list[dict]:
        out, ids = [], set()
        for s in self.subtree(span):
            for ex in self.sql_of.get(s.id, []):
                if id(ex) not in ids:
                    ids.add(id(ex))
                    out.append(ex)
        return out

    def spark(self, span) -> dict:
        stages = self.stages(span)
        st = self.st.stages
        sql = self.sql(span)
        total = lambda k: sum(st[s][k] for s in stages)
        return {
            "jobs": len(self.jobs(span)),
            "stages": len(stages),
            "tasks": total("tasks"),
            "task_skew": self.st.task_skew(stages),
            "scan_rows": total("input_records"),
            "scan_bytes": total("input_bytes"),
            "shuffle_write_bytes": total("shuffle_write"),
            "shuffle_read_bytes": total("shuffle_read"),
            "spill_bytes": total("spill"),
            "exec_ms": total("run_ms"),
            "exchanges": sum(e["exchanges"] for e in sql),
            "cached_scans": sum(e["cached_scans"] for e in sql),
            "python_eval_s": sum(e["python_s"] for e in sql),
            "scan_rows_by_columns": _merge(e["scan_rows"] for e in sql),
        }


def _merge(dicts) -> dict:
    out: dict = {}
    for d in dicts:
        for k, v in d.items():
            out[k] = out.get(k, 0) + v
    return out


def _phase_spark(attr: Attribution, phases, plans, exec_name: str, skip: int):
    """Median over the phase's calls after the first ``skip`` (warm-up)
    calls, or over all of them when there are no more."""
    phases = sorted(phases, key=lambda s: s.start)
    warm = phases[skip:] or phases
    per = [attr.spark(p) for p in warm]
    out = {m: _med(x[m] for x in per) for m in SPARK if m in per[0]}
    out["plan_s"] = _med(
        t for t, t0 in plans if any(p.start <= t0 <= p.end for p in warm)
    )
    out["exec_s"] = _med(
        s.duration for p in warm for s in attr.subtree(p) if s.name == exec_name
    )
    return out, warm, per


def compute(work, tracer, status) -> dict:
    attr = Attribution(tracer, status)
    out = {name: 0.0 for name in NAMES}
    for name, secs in work.setup.items():
        out[f"setup.{name}_s"] = secs
    selfs = tracing.self_times(tracer.spans)
    for s in tracer.spans:
        key = f"self.{s.name}_s"
        if key in out:
            out[key] += selfs[s.id]
    if hasattr(work, "retrieval_times"):
        _batch(work, tracer, attr, out)
    else:
        _serving(work, tracer, attr, out)
    return out


def _batch(work, tracer, attr, out) -> None:
    calls = tracer.by_name("phase.retrieval")
    spark, warm, per = _phase_spark(
        attr, calls, tracer.plans, "feature_store.to_parquet", work.warmup_calls
    )
    for m, v in spark.items():
        out[f"spark.{m}"] = v
    hist = [s for p in warm for s in attr.subtree(p)
            if s.name == "feature_store.historical_build"]
    out["feature_store.historical_build_s"] = _med(s.duration for s in hist)
    out["feature_store.historical_build_jobs"] = _med(len(attr.jobs(s)) for s in hist)
    out["operators.asof_join.build_s"] = _med(
        s.duration for p in warm for s in attr.subtree(p)
        if s.name == "operators.asof_join"
    )
    feature_rows = [
        sum(v for cols, v in x["scan_rows_by_columns"].items()
            if set(cols.split(",")) & set(work.useful_rows)) for x in per
    ]
    useful = sum(work.useful_rows.values())
    out["operators.asof_join.scan_useful_ratio"] = (
        useful / _med(feature_rows) if _med(feature_rows) else 0.0
    )
    builds = tracer.by_name("phase.corpus")
    if builds:
        spark, warm, _ = _phase_spark(attr, builds, tracer.plans, "corpus.write", 1)
        for m, v in spark.items():
            out[f"corpus.spark.{m}"] = v
        out["pipelines.corpus.build_s"] = _med(p.duration for p in warm)
    out["trace.overhead_ratio"] = work.overhead_ratio


def _requests(tracer, attr, phase: str) -> dict:
    """Per traced feature request of one phase: its handler span and
    the spans below it."""
    out = {}
    for h in tracer.by_name("serving.handler"):
        if h.req and h.req.startswith(phase + "-") and h.attrs.get("path") == (
            "/get-online-features"
        ):
            out[h.req] = (h, attr.subtree(h))
    return out


def _per_request(work, tracer, attr, phase: str, recs, out, prefix="") -> None:
    reqs = _requests(tracer, attr, phase)
    by_id = {f"{phase}-{r['i']}": r for r in recs if "status" in r}
    sub = lambda name: [s for _, tree in reqs.values() for s in tree if s.name == name]
    out[prefix + "feature_store.online_ms_p50"] = 1000 * _med(
        s.duration for s in sub("feature_store.online")
    )
    pread = sub("io.pread")
    out[prefix + "io.pread.hit_ratio"] = (
        sum(bool(s.attrs.get("hit")) for s in pread) / len(pread) if pread else 0.0
    )
    n = max(1, len(reqs))
    out[prefix + "spark.jobs_per_request"] = sum(
        len(attr.jobs(h)) for h, _ in reqs.values()
    ) / n
    out[prefix + "serving.queue_ms_p50"] = _med(
        1000 * (by_id[k]["done"] - by_id[k]["due"] - h.duration)
        for k, (h, _) in reqs.items() if k in by_id
    )
    if prefix:
        return
    out["online.store.read_call_ms_p50"] = 1000 * _med(
        s.duration for s in sub("online.store.read"))
    out["io.localframe.ensure_local_ms_p50"] = 1000 * _med(
        s.duration for s in sub("io.localframe.ensure_local"))
    out["io.manifest.reads_per_request"] = len(sub("io.manifest.read")) / n
    spark = [attr.spark(h) for h, _ in reqs.values()]
    out["spark.tasks_per_request"] = sum(x["tasks"] for x in spark) / n
    out["spark.exec_ms_per_request"] = sum(x["exec_ms"] for x in spark) / n
    out["spark.python_eval_s"] = sum(x["python_eval_s"] for x in spark)
    out["serving.handler_ms_p50"] = 1000 * _med(h.duration for h, _ in reqs.values())
    # traced (even) against untraced (odd) feature reads of the phase
    lat = lambda parity: [
        r["done"] - r["due"] for r in recs
        if r.get("path") == "/get-online-features" and r["i"] % 2 == parity
    ]
    traced, untraced = _med(lat(0)), _med(lat(1))
    out["trace.overhead_ratio"] = traced / untraced if untraced else 0.0


def _backlog_max(recs) -> int:
    """Most requests due and not yet answered at any instant."""
    events = sorted(
        [(r["due"], 1) for r in recs] + [(r["done"], -1) for r in recs]
    )
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def _serving(work, tracer, attr, out) -> None:
    read = work.read_recs
    _per_request(work, tracer, attr, "read", read, out)
    out["serving.backlog_max"] = _backlog_max(read)
    out["serving.capacity_rps"] = work.capacity_rps
    late = [1000 * (r["sent"] - r["due"]) for r in read]
    out["loadgen.late_ms_p50"] = _med(late)
    out["loadgen.late_ms_max"] = max(late) if late else 0.0
    co = work.coalescer_stats
    out["search_p50_ms"] = _med(
        1000 * (r["done"] - r["due"]) for r in work.search_recs
    )
    out["serving.coalescer.wait_ms_avg"] = co["wait_ms_avg"]
    out["serving.coalescer.serve_ms_per_batch"] = co["serve_ms_avg_per_batch"]
    out["serving.coalescer.batch_size_avg"] = co["batch_size_avg"]
    out["serving.coalescer.failed_batches"] = co["failed_batches"]
    out["operators.bm25.batch_jobs"] = _med(
        len(attr.jobs(s)) for s in tracer.by_name("serving.coalescer.batch")
        if s.start >= tracer.marks["read"]
    )
    mc = work.model_cache_stats
    calls = mc["hits"] + mc["misses"]
    out["io.model_cache.hit_ratio"] = mc["hits"] / calls if calls else 0.0

    _per_request(work, tracer, attr, "fresh", work.fresh_recs, out, "fresh.")
    for name, key in (
        ("freshness_p50_s", "freshness_p50_s"), ("freshness_tail_s", "freshness_tail_s"),
        ("read_ms_p50", "fresh_features_p50_ms"), ("read_tail_ms", "fresh_features_tail_ms"),
    ):
        out[f"fresh.{name}"] = work.fresh[key]
    fresh_t0 = tracer.marks["fresh"]
    batches = [p for p in work.progress if p.get("numInputRows", 0) > 0]
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000.0
    out["streaming.ingest.batch_s_p50"] = _med(dur(p, "triggerExecution") for p in batches)
    out["streaming.ingest.add_batch_s_p50"] = _med(dur(p, "addBatch") for p in batches)
    rows = sum(p["numInputRows"] for p in batches)
    busy = sum(dur(p, "triggerExecution") for p in batches)
    out["streaming.ingest.rows_per_s"] = rows / busy if busy else 0.0
    out["streaming.ingest.backlog_files_max"] = max(
        (p["numInputRows"] / work.keys_per_file for p in batches), default=0.0
    )
    writes = [s for s in tracer.by_name("online.store.write") if s.start >= fresh_t0]
    out["online.store.write_s_p50"] = _med(s.duration for s in writes)
    out["io.manifest.commit_s_p50"] = _med(
        s.duration for s in tracer.by_name("io.manifest.commit")
        if s.start >= fresh_t0
    )
    out["spark.jobs_per_commit"] = (
        sum(len(attr.jobs(s)) for s in writes) / len(writes) if writes else 0.0
    )
    snap_rows, snap_bytes = work.snapshot_size()
    out["online.store.write_amplification"] = (
        len(writes) * snap_rows / rows if rows else 0.0
    )
    out["online.store.bytes_written_per_commit"] = snap_bytes


def snapshot_size(path: str) -> tuple[int, int]:
    """Rows and bytes of the parquet files under ``path``."""
    import pyarrow.parquet as pq

    rows = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
    return rows, size
