"""Outside-in tracing for the replication benchmark.

Nothing here runs inside the engine. The numbers come from the channels
Spark and the replicator already expose:

* ``StreamingQueryProgress`` (``query.recentProgress``): per-micro-batch
  phase durations, input rows, event-time bounds, dedup state operator;
* the file-source log under ``<checkpoint>/sources/0``: which published
  file went into which micro-batch;
* the replicator's manifests and version directories: which buckets each
  batch rewrote and how many rows it wrote;
* the SQL status store (answers with ``spark.ui.enabled=false``): every
  Spark execution with its jobs and per-node metrics.

``Tracer`` keeps spans in memory and writes them with the per-layer
metrics as one JSON file when the run ends.
"""

from __future__ import annotations

import bisect
import json
import os
import re
import statistics
from dataclasses import dataclass, field

import pyarrow.parquet as pq


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def p90(values) -> float:
    values = sorted(values)
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


# -- file-source log ----------------------------------------------------------


def _log_entries(log_dir: str):
    """``(file name, JSON lines)`` of a checkpoint metadata log directory."""
    if not os.path.isdir(log_dir):
        return
    for name in os.listdir(log_dir):
        if re.fullmatch(r"\d+(\.compact)?", name):
            with open(os.path.join(log_dir, name)) as fh:
                yield name, [json.loads(x) for x in fh.read().splitlines() if x.startswith("{")]


def source_log(checkpoint_dir: str) -> dict[str, int]:
    """Map each file the stream read to its micro-batch id.

    The file-source log (``sources/0``) records the source's own log
    offset per file; the offset log (``offsets/<batch>``) records the log
    offset each micro-batch ended at. The two differ once a query restarts
    on the checkpoint, so both are read. Every
    ``spark.sql.streaming.fileSource.log.compactInterval`` entries Spark
    folds the earlier ones into ``<n>.compact`` and may delete the plain
    files, so both forms are read."""
    file_offset: dict[str, int] = {}
    for _, entries in _log_entries(os.path.join(checkpoint_dir, "sources", "0")):
        for e in entries:
            path = e["path"]
            if path.startswith("file:"):
                path = "/" + path[len("file:") :].lstrip("/")
            file_offset[path] = int(e["batchId"])
    batch_end = sorted(
        (int(e[-1]["logOffset"]), int(name))
        for name, e in _log_entries(os.path.join(checkpoint_dir, "offsets"))
    )
    out = {}
    for path, off in file_offset.items():
        i = bisect.bisect_left(batch_end, (off, -1))
        if i < len(batch_end):
            out[path] = batch_end[i][1]
    return out


# -- replicator state directory ------------------------------------------------


def manifests(state_dir: str) -> list[dict]:
    """Committed manifests, oldest first."""
    found = []
    for name in os.listdir(state_dir):
        m = re.fullmatch(r"manifest-(\d+)\.json", name)
        if m:
            with open(os.path.join(state_dir, name)) as fh:
                found.append(json.load(fh))
    return sorted(found, key=lambda m: m["version"])


def rows_written(state_dir: str, version: int) -> int:
    """Rows in the version directory a batch wrote (parquet footers only)."""
    root = os.path.join(state_dir, f"v{version}")
    n = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return n


# -- SQL status store ----------------------------------------------------------

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def metric_value(text: str) -> float:
    """Parse a status-store metric string to ms, bytes or a count.

    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value on the last line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class StatusStore:
    """Read-only view of the session's SQL status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def executions(self) -> list[dict]:
        out = []
        for e in self._list(self._store.executionsList()):
            done = e.completionTime()
            out.append(
                {
                    "id": e.executionId(),
                    "description": e.description() or "",
                    "start": e.submissionTime() / 1000.0,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "jobs": len(self._conv.asJava(e.jobs())),
                }
            )
        return out

    def nodes(self, execution_id: int) -> list[dict]:
        """Plan nodes of one execution with their parsed metric totals.

        A whole-stage-codegen cluster is a node too; ``inner`` holds the ids
        of the nodes it fused. ``parent`` is the id of the node that consumes
        a node's output."""
        values = dict(self._conv.asJava(self._store.executionMetrics(execution_id)))
        graph = self._store.planGraph(execution_id)
        parent = {e.fromId(): e.toId() for e in self._list(graph.edges())}
        out = []
        for n in self._list(graph.allNodes()):
            metrics = {}
            for m in self._list(n.metrics()):
                raw = values.get(m.accumulatorId())
                if raw is not None:
                    metrics[m.name()] = metric_value(raw)
            inner = []
            if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
                inner = [x.id() for x in self._list(n.nodes())]
            out.append({"id": n.id(), "name": n.name(), "desc": n.desc(), "metrics": metrics,
                        "inner": inner, "parent": parent.get(n.id())})
        return out


def agg_stage_ms(nodes: list[dict]) -> float:
    """Task time of the codegen stages that run the plan's aggregates.

    A fused aggregate runs in its own cluster. A sort-based aggregate is not
    fused and has no timing of its own; it runs lazily inside the first
    codegen stage that consumes its output in the same Spark stage, whose
    ``duration`` therefore holds it (with the sort under it). One whose
    output goes straight to a shuffle write is not covered."""
    by_id = {n["id"]: n for n in nodes}
    cluster_of = {i: n for n in nodes for i in n["inner"]}
    clusters = {}
    for n in nodes:
        if not n["name"].endswith("Aggregate"):
            continue
        cur = n["id"]
        while cur is not None and cur not in cluster_of:
            node = by_id.get(cur)
            cur = node["parent"] if node and node["name"] != "Exchange" else None
        if cur is not None:
            clusters[cluster_of[cur]["id"]] = cluster_of[cur]
    return sum(c["metrics"].get("duration", 0.0) for c in clusters.values())


def batch_of(description: str) -> int | None:
    """Micro-batch id from a streaming execution's description."""
    m = re.search(r"\nbatch = (\d+)", description)
    return int(m.group(1)) if m else None


# -- spans ---------------------------------------------------------------------


@dataclass
class Tracer:
    """Spans (name, start, end, parent) of one run, kept in memory."""

    run_id: str
    spans: list[dict] = field(default_factory=list)

    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "trace": self.run_id, "name": name, "start": start,
             "end": end, "parent": parent, **attrs}
        )
        return sid

    def write(self, path: str, metrics: dict, counters: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "metrics": metrics,
                       "counters": counters, "spans": self.spans}, fh)


# -- per-layer metrics ---------------------------------------------------------


def _execution_layers(store: StatusStore, execs: list[dict], state_dir: str) -> dict:
    """operators.apply and replicator scan metrics of one batch's executions."""
    out = {"fold_nodes": 0, "python_run_ms": 0.0, "python_init_ms": 0.0,
           "python_bytes": 0.0, "agg_ms": 0.0, "shuffle_bytes": 0.0,
           "rows_in": 0.0, "rows_out": 0.0, "state_scan_ms": 0.0}
    for e in execs:
        nodes = store.nodes(e["id"])
        writes = [n for n in nodes if n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand")]
        if not writes:
            continue  # the changed-bucket collect, not the apply
        for n in nodes:
            name, m = n["name"], n["metrics"]
            if name == "FlatMapGroupsInPandas":
                out["fold_nodes"] += 1
                out["python_run_ms"] += m.get("time to run Python workers", 0.0)
                out["python_init_ms"] += m.get("time to initialize Python workers", 0.0) + m.get(
                    "time to start Python workers", 0.0)
                out["python_bytes"] += m.get("data sent to Python workers", 0.0) + m.get(
                    "data returned from Python workers", 0.0)
            elif name == "Exchange":
                out["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
            elif name.startswith("Scan"):
                out["rows_in"] += m.get("number of output rows", 0.0)
                if state_dir in n["desc"]:
                    out["state_scan_ms"] += m.get("scan time", 0.0)
        out["agg_ms"] += agg_stage_ms(nodes)
        out["rows_out"] += sum(n["metrics"].get("number of output rows", 0.0) for n in writes)
    return out


def layer_metrics(
    *,
    tracer: Tracer,
    run_span: int,
    progress: list[dict],
    calls: list[tuple[int, float, float]],
    files: list[dict],
    file_batches: dict[str, int],
    state_dir: str,
    n_buckets: int,
    store: StatusStore,
    read_tag: str,
) -> tuple[dict, dict]:
    """Per-layer metrics of one stream (one replica) and its spans.

    ``calls`` are the timed sink calls ``(batch_id, start, end)``; only
    batches that carried rows count."""
    by_batch = {p["batchId"]: p for p in progress}
    data_batches = [b for b, _, _ in calls if by_batch.get(b, {}).get("numInputRows", 0) > 0]
    sink_ms = {b: (e - s) * 1e3 for b, s, e in calls}
    execs = [e for e in store.executions() if e["end"] is not None]
    stream_execs: dict[int, list[dict]] = {}
    for e in execs:
        b = batch_of(e["description"])
        if b is not None:
            stream_execs.setdefault(b, []).append(e)

    # a batch's manifest is the one written during its sink call
    mans = manifests(state_dir) if os.path.isdir(state_dir) else []
    by_version = {m["version"]: m for m in mans}
    changed_frac, rewritten_per_event = [], []
    for b, s, e in calls:
        if b not in data_batches:
            continue
        for m in mans:
            mtime = os.stat(os.path.join(state_dir, f"manifest-{m['version']}.json")).st_mtime
            if s <= mtime <= e + 0.01:
                prev = by_version.get(m["version"] - 1, {"buckets": {}})
                keys = set(prev["buckets"]) | set(m["buckets"])
                changed = sum(prev["buckets"].get(k) != m["buckets"].get(k) for k in keys)
                changed_frac.append(changed / n_buckets)
                rows_in = by_batch[b]["numInputRows"]
                rewritten_per_event.append(rows_written(state_dir, m["version"]) / rows_in)

    apply_rows, jobs = [], []
    for b in data_batches:
        p = by_batch[b]
        start = _iso_seconds(p["timestamp"])
        bspan = tracer.span("micro-batch", start, start + p["durationMs"]["triggerExecution"] / 1e3,
                            run_span, batch=b, rows=p["numInputRows"])
        _, s, e = next(c for c in calls if c[0] == b)
        cspan = tracer.span("sink-call", s, e, bspan, batch=b)
        mine = [x for x in stream_execs.get(b, []) if s <= x["start"] <= e]
        for x in mine:
            tracer.span("spark-execution", x["start"], x["end"], cspan, execution=x["id"], jobs=x["jobs"])
        jobs.append(sum(x["jobs"] for x in mine))
        apply_rows.append(_execution_layers(store, mine, state_dir))

    read_ms = [(e["end"] - e["start"]) * 1e3 for e in execs if e["description"] == read_tag]
    data_ops = [by_batch[b]["stateOperators"][0] for b in data_batches if by_batch[b].get("stateOperators")]
    # redeliveries injected into, and rows the dedup operator dropped from,
    # the window's batches
    redelivered = sum(f["redelivered"] for f in files if file_batches.get(f["path"]) in data_batches)
    dropped = sum(
        o["numRowsDroppedByWatermark"] + o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
        for o in data_ops
    )
    batch_starts = {b: _iso_seconds(by_batch[b]["timestamp"]) for b in data_batches}
    backlog = [
        sum(1 for f in files if f["created"] <= t and file_batches.get(f["path"], 1 << 60) >= b)
        for b, t in batch_starts.items()
    ]
    lag = [
        batch_starts[b] + by_batch[b]["durationMs"]["triggerExecution"] / 1e3
        - _iso_seconds(by_batch[b]["eventTime"]["max"])
        for b in data_batches if "max" in by_batch[b].get("eventTime", {})
    ]
    ordered_sink = [sink_ms[b] for b in data_batches]
    q = max(1, len(ordered_sink) // 4)

    def apply_med(key):
        return median(r[key] for r in apply_rows)

    metrics = {
        "consumer.batches": len(data_batches),
        "consumer.rows_per_batch": median(by_batch[b]["numInputRows"] for b in data_batches),
        "consumer.overhead_ms": median(
            by_batch[b]["durationMs"]["triggerExecution"] - by_batch[b]["durationMs"].get("addBatch", 0)
            for b in data_batches),
        "consumer.backlog_files": median(backlog),
        "consumer.lag_s": median(lag),
        "dedup.state_rows": median(o["numRowsTotal"] for o in data_ops),
        "dedup.state_bytes": median(o["memoryUsedBytes"] for o in data_ops),
        "dedup.state_commit_ms": median(o["commitTimeMs"] for o in data_ops),
        "dedup.late_rows_dropped": sum(o["numRowsDroppedByWatermark"] for o in data_ops),
        "dedup.dup_drop_ratio": dropped / redelivered if redelivered else 0.0,
        "replicator.sink_ms": median(ordered_sink),
        "replicator.jobs_per_batch": median(jobs),
        "replicator.changed_bucket_frac": median(changed_frac),
        "replicator.rows_rewritten_per_event": median(rewritten_per_event),
        "replicator.state_scan_ms": apply_med("state_scan_ms"),
        "replicator.state_dir_entries": len(os.listdir(state_dir)) if os.path.isdir(state_dir) else 0,
        "replicator.sink_age_ratio": (median(ordered_sink[-q:]) / median(ordered_sink[:q]))
        if ordered_sink else 0.0,
        "replicator.read_ms": median(read_ms),
        "apply.fold_nodes": apply_med("fold_nodes"),
        "apply.python_run_ms": apply_med("python_run_ms"),
        "apply.python_init_ms": apply_med("python_init_ms"),
        "apply.python_bytes": apply_med("python_bytes"),
        "apply.agg_ms": apply_med("agg_ms"),
        "apply.shuffle_bytes": apply_med("shuffle_bytes"),
        "apply.rows_in": apply_med("rows_in"),
        "apply.rows_out": apply_med("rows_out"),
    }
    counters = {
        "batches": data_batches,
        "sink_ms": ordered_sink,
        "jobs": jobs,
        "changed_bucket_frac": changed_frac,
        "apply": apply_rows,
        "reads": len(read_ms),
        "redelivered_rows": redelivered,
        "dropped_rows": dropped,
    }
    return metrics, counters


def _iso_seconds(ts: str) -> float:
    """Epoch seconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    from datetime import datetime

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

