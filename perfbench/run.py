"""CDC replication benchmark: seeded CDC log -> CDCStreamConsumer ->
ReplicatorSink -> ReplicatorSink.current_state, checked against the
pure-Python replay oracle.

Run from the repository root::

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 20 --trace 0

Workloads (perfbench/NOTES.md says why each exists):

* ``catchup``: a pre-written backlog on a clustering-key table, drained
  with the AvailableNow trigger one file per micro-batch; the replicator
  folds it in Python.
* ``catchup_nock``: the same generator on a table without a clustering
  key, which ``apply_cdc_log`` routes to the native aggregate.

The first two batches are untimed warm-up, charged to ``setup_s`` with
session start and input generation. Once the backlog is drained,
``N_READS`` point lookups go through ``current_state``. Files are
committed one per batch, so batch boundaries, and with them the
replica's known defect, depend only on the seed.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (and writes spans plus counters to
``.perfbench/trace-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import threading
import time
import uuid
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

N_BUCKETS = 16  # replicator buckets, identical in every workload
CONFIDENCE_MS = 3_000  # reference IT config: 3 s confidence window
READ_TAG = "perfbench-read"
N_READS = 20  # point lookups against the drained replica
# backlog files of 5,000 statements, as in the 50k-statement, 10-batch
# drain the benchmark was specified from
STMTS_PER_FILE = 5000
# untimed warm-up files: a small first batch pays the cold start, a full
# one the warming of the fold's and the native path's code
WARM_FILES = [500, STMTS_PER_FILE]


@dataclass(frozen=True)
class Workload:
    table: str  # "ck" (Python fold) or "nock" (native aggregate)
    n_pk: int
    n_ck: int
    batch_s: float  # typical time of one backlog batch (4 cores), sizes the backlog


# both tables have 16,000 keys, the size of the replica state the
# benchmark was specified against
WORKLOADS = {
    "catchup": Workload(table="ck", n_pk=2000, n_ck=8, batch_s=4.3),
    "catchup_nock": Workload(table="nock", n_pk=16000, n_ck=1, batch_s=3.4),
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _import_engine():
    """Make the engine importable here and in Spark's Python workers."""
    if not os.path.isdir(os.path.join(ROOT, "scylla_cdc_java_spark")):
        _die(f"no scylla_cdc_java_spark package under {ROOT}; run from a full checkout")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set (MB) of this Python process and of Spark's JVM."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM in /proc/{pid}/status")

    return hwm("self"), hwm(spark._jvm.java.lang.ProcessHandle.current().pid())


def start_session(trace: bool, work: str):
    from scylla_cdc_java_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    # keep every temporary file inside the checkout: this process and Spark's
    # Python workers (TMPDIR), the JVM (java.io.tmpdir), shuffle and spill
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no /tmp/hsperfdata_* from the spark-submit launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])
    )
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed young generation keeps the JVM's resident set from
        # varying with when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC -Xmn128m"
        ),
    }
    if trace:
        # keep every execution of a long run in the status store
        conf["spark.sql.ui.retainedExecutions"] = "100000"
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)


# -- oracle check ---------------------------------------------------------------


def compare_state(desc, rows, batches) -> dict:
    """Diff the replica against ``replay_dml`` of the log; ``batches`` are
    the statements of each micro-batch, in commit order.

    One known replicator defect is counted apart from ``unexpected``
    differences. The sink re-seeds its state as op-9 post-images, which
    carry a row marker, so every row present at the end of a micro-batch
    has a marker from then on: a row created by UPDATE alone (no marker)
    and emptied by an UPDATE in a later micro-batch survives with all
    regular columns NULL, where ``replay_dml`` drops it. ``expected``
    replays the log with that rule (a marker-only insert of every present
    row at each batch boundary). A replica row that differs from it is
    ``unexpected``; one that matches it but not the oracle is an
    ``update_only_rows`` row.
    """
    from scylla_cdc_java_spark.testing import replay_dml

    key = desc.primary_key
    n_pk = len(desc.partition_keys)
    regular = desc.regular_columns

    def index(rs):
        return {tuple(r[k] for k in key): tuple(r[c] for c in regular) for r in rs}

    dml, with_markers = [], []
    for i, batch in enumerate(batches):
        dml += batch
        with_markers += batch
        if i < len(batches) - 1:
            present = index(replay_dml(desc, with_markers))
            with_markers += [("insert", k[:n_pk], k[n_pk:], {}) for k in present]
    want = index(replay_dml(desc, dml))
    expected = index(replay_dml(desc, with_markers))
    got = index(r.asDict() if hasattr(r, "asDict") else r for r in rows)
    differing = {k for k in want.keys() | got.keys() if want.get(k) != got.get(k)}
    unexpected = {k for k in expected.keys() | got.keys() if expected.get(k) != got.get(k)}
    return {
        "oracle_rows": len(want),
        "replica_rows": len(got),
        "differing": len(differing),
        "update_only_rows": len(differing - unexpected),
        "unexpected": len(unexpected),
        "error_rate": len(differing) / max(1, len(want)),
        "unexpected_sample": [
            {"key": k, "oracle": want.get(k), "expected": expected.get(k), "replica": got.get(k)}
            for k in sorted(unexpected)[:5]
        ],
    }


# -- pipeline pieces --------------------------------------------------------------


class TimedSink:
    """Wraps a ReplicatorSink; records ``(batch_id, start, end)`` per call."""

    def __init__(self, sink):
        self.sink = sink
        self.calls: list[tuple[int, float, float]] = []
        self.lock = threading.Lock()

    def __call__(self, batch_df, batch_id):
        start = time.time()
        self.sink(batch_df, batch_id)
        with self.lock:
            self.calls.append((batch_id, start, time.time()))

    def committed(self) -> dict[int, float]:
        with self.lock:
            return {b: e for b, _, e in self.calls}


def make_consumer(spark, desc, src_dir, ckpt):
    from scylla_cdc_java_spark.model.schema import build_cdc_log_schema
    from scylla_cdc_java_spark.streaming import CDCStreamConsumer

    return (
        CDCStreamConsumer(spark)
        .with_source(src_dir, build_cdc_log_schema(desc))
        .with_confidence_window_ms(CONFIDENCE_MS)
        .with_checkpoint(ckpt)
    )


def point_read(spark, sink, desc, key) -> None:
    from pyspark.sql import functions as F

    state = sink.current_state(spark)
    if state is None:
        return
    cond = None
    for c, v in zip(desc.primary_key, key):
        term = F.col(c) == F.lit(v)
        cond = term if cond is None else cond & term
    state.where(cond).collect()


def timed_reads(spark, sink, desc, sample, n: int) -> tuple[list[float], int]:
    """``n`` point lookups after one untimed warm-up lookup; returns the
    latencies and the number of lookups that raised (logged, then counted
    as failed)."""
    point_read(spark, sink, desc, sample())
    lat, failed = [], 0
    # the tag marks the lookups' executions in the SQL status store
    spark.sparkContext.setJobDescription(READ_TAG)
    try:
        for _ in range(n):
            t = time.time()
            try:
                point_read(spark, sink, desc, sample())
            except Exception as exc:  # noqa: BLE001 - a failed read is a measured outcome
                print(f"perfbench: read failed: {exc!r}", file=sys.stderr)
                failed += 1
                continue
            lat.append(time.time() - t)
    finally:
        spark.sparkContext.setJobDescription(None)
    return lat, failed


def file_latencies(files, file_batches, committed, not_before=0.0):
    """Per-event visibility: every event of a file becomes visible when the
    sink call of the batch that read the file returns; measured from the
    file's creation (or ``not_before``). Files never committed are returned
    apart."""
    lat, missing = [], []
    for f in files:
        b = file_batches.get(f["path"])
        if b is None or b not in committed:
            missing.append(f)
        else:
            lat += [committed[b] - max(f["created"], not_before)] * f["events"]
    return lat, missing


def wait_for(cond, timeout_s: float, query) -> bool:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline or query.exception() is not None:
            return False
        time.sleep(0.05)
    return True


# -- workloads --------------------------------------------------------------------


class Run:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool):
        from gen import TABLE_CK, TABLE_NOCK

        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.w = WORKLOADS[name]
        self.desc = TABLE_CK if self.w.table == "ck" else TABLE_NOCK
        self.work = os.path.join(WORK, f"{name}-{os.getpid()}")
        self.setup: dict[str, float] = {}
        self.result: dict = {}
        self.layer: dict = {}
        self.counters: dict = {}
        self.tracer = None

    def rng(self, salt: int) -> random.Random:
        return random.Random(self.seed * 1000 + salt)

    def dml_source(self, salt: int):
        from gen import DmlSource

        return DmlSource(self.desc, self.rng(salt), self.w.n_pk, self.w.n_ck)

    def key_sampler(self):
        src = self.dml_source(3)
        return lambda: src.pk() + src.ck()

    def write_backlog(self, sizes: list[int]):
        """Files of consecutive statements (``sizes`` statements each), one
        statement per ms, event times ending now. Returns the statements of
        each file and the writer."""
        from gen import LogWriter, encode

        src = self.dml_source(1)
        dml = [src.statement() for _ in range(sum(sizes))]
        gen_dir = os.path.join(self.work, "gen")
        shutil.rmtree(gen_dir, ignore_errors=True)
        writer = LogWriter(self.desc, os.path.join(gen_dir, "src"),
                           os.path.join(gen_dir, "staging"), self.rng(2))
        t0 = int(time.time() * 1e6) - len(dml) * 1000
        rows = [encode(self.desc, s, t0 + i * 1000, i) for i, s in enumerate(dml)]
        file_dml, start = [], 0
        for n in sizes:
            writer.publish(rows[start : start + n])
            file_dml.append(dml[start : start + n])
            start += n
        return file_dml, writer

    def generate(self, sizes: list[int], repeats: int = 3):
        """Write the backlog ``repeats`` times; setup is charged the median
        and the last copy is kept."""
        from tracing import median

        times = []
        for _ in range(repeats):
            t = time.time()
            out = self.write_backlog(sizes)
            times.append(time.time() - t)
        self.setup["generate_s"] = median(times)
        return out

    def consumer(self, spark):
        """A consumer of the generated source, checkpointed under ``replica``."""
        return make_consumer(spark, self.desc, os.path.join(self.work, "gen", "src"),
                             os.path.join(self.work, "replica", "ckpt"))

    def sink(self):
        """The timed sink of a fresh replica."""
        from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

        state = os.path.join(self.work, "replica", "state")
        return TimedSink(ReplicatorSink(self.desc, state, n_buckets=N_BUCKETS))

    # -- catch-up ------------------------------------------------------------------

    def run_catchup(self, spark):
        """Drain the warm-up files and about ``seconds / batch_s`` backlog
        files, one per micro-batch, with AvailableNow. The warm-up batches
        are untimed; the rest make the measured window."""
        from tracing import median, p90, source_log

        w = self.w
        # an odd number of equal files keeps the event median off a batch
        # boundary, where it would flip between two commits
        n_files = max(3, 2 * round((self.seconds / w.batch_s - 1) / 2) + 1)
        file_dml, writer = self.generate(WARM_FILES + [STMTS_PER_FILE] * n_files)
        warm = len(WARM_FILES)
        sink = self.sink()

        t = time.time()
        query = self.consumer(spark).with_throttle(1).trigger_available_now().start(
            sink, query_name=self.name
        )
        if not wait_for(lambda: warm - 1 in sink.committed(), 300, query):
            _die("catch-up drain did not warm up")
        t_ws = sink.committed()[warm - 1]
        self.setup["warmup_s"] = t_ws - t
        query.awaitTermination()
        fb = _abs_paths(source_log(os.path.join(self.work, "replica", "ckpt")))
        committed = sink.committed()
        measured = [f for f in writer.log if fb.get(f["path"], warm) >= warm]
        t_we = max(committed.get(fb.get(f["path"]), 0.0) for f in measured)
        lat, missing = file_latencies(measured, fb, committed, not_before=t_ws)
        _, all_missing = file_latencies(writer.log, fb, committed)
        events = sum(f["events"] for f in measured)
        # batches run back to back: a batch's wall time is the gap between
        # its commit and the previous one
        per_batch: dict[int, int] = {}
        for f in measured:
            if f["path"] in fb:
                per_batch[fb[f["path"]]] = per_batch.get(fb[f["path"]], 0) + f["events"]
        rates = [n / (committed[b] - committed[b - 1])
                 for b, n in per_batch.items() if b in committed and b - 1 in committed]
        read_lat, read_failed = timed_reads(spark, sink.sink, self.desc, self.key_sampler(), N_READS)
        batch_dml: dict[int, list] = {}
        for f, stmts in zip(writer.log, file_dml):
            batch_dml.setdefault(fb.get(f["path"], 1 << 30), []).extend(stmts)
        check = compare_state(self.desc, sink.sink.current_state(spark).collect(),
                              [batch_dml[b] for b in sorted(batch_dml)])
        self.result = {
            "correct": check["unexpected"] == 0 and not all_missing and query.exception() is None,
            "attempted": events + len(read_lat) + read_failed,
            "failed": sum(f["events"] for f in missing) + read_failed,
            "events_per_s": median(rates),
            "visible_p50_s": median(lat),
            "visible_p90_s": p90(lat),
        }
        self.counters.update(check=check, window_s=t_we - t_ws, batch_rates=rates,
                             visible_samples=len(lat), read_s=read_lat)
        if self.trace:
            self.trace_stream(spark, sink, query, fb, writer.log, t_ws, t_we)

    # -- tracing -------------------------------------------------------------------

    def trace_stream(self, spark, sink, query, fb, files, t_ws, t_we):
        """Per-layer metrics of the batches in the window. The traced run
        executes the same code as the untraced one up to here, so the wall
        time of this collection is the tracing overhead."""
        from tracing import StatusStore, Tracer, layer_metrics

        t = time.time()
        self.tracer = Tracer(run_id=uuid.uuid4().hex)
        run_span = self.tracer.span("run", t_ws, t_we, None, workload=self.name)
        metrics, counters = layer_metrics(
            tracer=self.tracer, run_span=run_span,
            progress=[json.loads(p.json) for p in query.recentProgress],
            calls=[c for c in sink.calls if t_ws <= c[1] < t_we], files=files,
            file_batches=fb, state_dir=sink.sink.state_dir, n_buckets=N_BUCKETS,
            store=StatusStore(spark), read_tag=READ_TAG,
        )
        self.layer.update(metrics)
        self.counters["layers"] = counters
        self.layer["trace.overhead_s"] = time.time() - t

    # -- entry -----------------------------------------------------------------------

    def execute(self) -> dict:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        try:
            t = time.time()
            spark = start_session(self.trace, self.work)
            self.setup["session_s"] = time.time() - t
            try:
                self.run_catchup(spark)
                rss = peak_rss_mb(spark)
            finally:
                stop_spark(spark)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
        r = self.result
        if self.trace:
            metrics = dict(self.layer)
            metrics.update({f"setup.{k}": v for k, v in self.setup.items()})
            metrics["check.state_error_rate"] = self.counters["check"]["error_rate"]
            self.tracer.write(os.path.join(WORK, f"trace-{self.name}-{self.seed}.json"),
                              metrics, self.counters)
        else:
            metrics = dict(r, setup_s=sum(self.setup.values()), peak_rss_mb=sum(rss))
        units = metric_units(self.trace)
        detail = {k: v for k, v in self.counters.items() if k != "layers"}
        detail["peak_rss_mb"] = {"python": rss[0], "jvm": rss[1]}
        print(json.dumps({"workload": self.name, "seed": self.seed, "setup": self.setup,
                          "counters": detail}, default=str), file=sys.stderr)
        return {
            "correct": bool(r["correct"]),
            "attempted": int(r["attempted"]),
            "failed": int(r["failed"]),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }


def _abs_paths(file_batches: dict[str, int]) -> dict[str, int]:
    return {os.path.realpath(p): b for p, b in file_batches.items()}


def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _import_engine()
    result = Run(args.workload, args.seed, args.seconds, bool(args.trace)).execute()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
