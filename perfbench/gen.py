"""Seeded CDC log generator for the replication benchmark.

Generation is not Spark work: statements are drawn with ``random.Random``,
encoded to CDC log rows in plain Python and written with pyarrow. The
engine sees only the parquet files; the DML statements go to the replay
oracle (``scylla_cdc_java_spark.testing.oracle.replay_dml``).

File hygiene the consumer relies on:

* every file is written under a staging directory and published with
  ``os.replace``, so the file-stream source never lists a partial file;
* a file holds whole statements, so files are cut only between distinct
  ``cdc$time`` values (both bound rows of a range delete share one time);
* file mtimes strictly increase in publish order (the file source orders
  files by mtime);
* ``publish`` returns the file's creation time, stamped after the rename.
"""

from __future__ import annotations

import os
import random
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from scylla_cdc_java_spark.functions.streamid import make_stream_id
from scylla_cdc_java_spark.functions.timeuuid import make_timeuuid
from scylla_cdc_java_spark.model.ops import OperationType as Op
from scylla_cdc_java_spark.model.schema import CdcTableDescriptor, build_cdc_log_schema
from scylla_cdc_java_spark.testing import FIXTURE_TABLES

# clustering-key table: the replicator folds it in Python (applyInPandas)
TABLE_CK = FIXTURE_TABLES["tbl_simple"]
# same columns without a clustering key: apply_cdc_log routes it to the
# native aggregate, so the Python fold is bypassed
TABLE_NOCK = CdcTableDescriptor(
    name="tbl_nock",
    base_schema=T.StructType(
        [
            T.StructField("pk", T.StringType()),
            T.StructField("v1", T.IntegerType()),
            T.StructField("v2", T.StringType()),
        ]
    ),
    partition_keys=["pk"],
)

_ARROW = {
    T.BinaryType: pa.binary(),
    T.StringType: pa.string(),
    T.TimestampType: pa.timestamp("us", tz="UTC"),
    T.IntegerType: pa.int32(),
    T.ByteType: pa.int8(),
    T.BooleanType: pa.bool_(),
    T.LongType: pa.int64(),
}


def arrow_schema(desc: CdcTableDescriptor) -> pa.Schema:
    """The CDC log schema of ``desc`` as an Arrow schema (scalar tables)."""
    return pa.schema(
        [
            pa.field(f.name, _ARROW[type(f.dataType)], f.nullable)
            for f in build_cdc_log_schema(desc).fields
        ]
    )


# Statement mix of the repository's own differential fuzzer
# (tools/fuzz_apply.py, ``rand_dml``): 45% inserts, 30% updates, 10% row
# deletes, 7% range deletes and 8% partition deletes. A table without a
# clustering key has no range deletes; rand_dml turns those into partition
# deletes. An insert writes every regular column, an update each with
# probability 0.7 (an update that writes none is skipped), and a written
# scalar cell is NULL with probability 0.5, as in rand_dml's ``rand_value``.
P_INSERT = 0.45
P_UPDATE = 0.75  # cumulative
P_ROW_DELETE = 0.85
P_RANGE_DELETE = 0.92
P_UPDATE_COL = 0.7
P_NULL = 0.5


class DmlSource:
    """Random DML statements (the oracle's tuple forms) over a fixed key
    space of ``n_pk`` uniform partitions x ``n_ck`` rows, in the mix above."""

    def __init__(self, desc: CdcTableDescriptor, rng: random.Random, n_pk: int, n_ck: int = 1):
        self.desc, self.rng = desc, rng
        self.n_pk = n_pk
        self.n_ck = n_ck if desc.clustering_keys else 1
        self.regular = desc.regular_columns

    def pk(self) -> tuple:
        return ("p%05d" % self.rng.randrange(self.n_pk),)

    def ck(self) -> tuple:
        return (self.rng.randrange(self.n_ck),) if self.desc.clustering_keys else ()

    def _value(self, col: str):
        if self.rng.random() < P_NULL:
            return None
        if isinstance(self.desc.base_field(col).dataType, T.StringType):
            return "s%d" % self.rng.randrange(1000)
        return self.rng.randrange(1_000_000)

    def statement(self) -> tuple:
        rng = self.rng
        while True:
            roll, pk = rng.random(), self.pk()
            if roll < P_INSERT:
                return ("insert", pk, self.ck(), {c: self._value(c) for c in self.regular})
            if roll < P_UPDATE:
                cells = {c: self._value(c) for c in self.regular if rng.random() < P_UPDATE_COL}
                if cells:
                    return ("update", pk, self.ck(), cells)
                continue
            if roll < P_ROW_DELETE:
                return ("row_delete", pk, self.ck())
            if roll < P_RANGE_DELETE and self.desc.clustering_keys:
                lo = rng.randrange(self.n_ck)
                hi = rng.randrange(lo, self.n_ck)
                return ("range_delete", pk, ((lo,), rng.random() < 0.5), ((hi,), rng.random() < 0.5))
            return ("partition_delete", pk)


def encode(desc: CdcTableDescriptor, stmt: tuple, micros: int, serial: int) -> list[dict]:
    """CDC log rows of one statement of a scalar table; all rows share one
    ``cdc$time`` (``micros``, made unique by ``serial``)."""
    pk = stmt[1]
    vnode = zlib.crc32(repr(pk).encode()) % 8
    base = {
        "cdc$stream_id": make_stream_id(vnode, index=vnode % 4),
        "cdc$time": str(make_timeuuid(micros, clock_seq_and_node=serial)),
        "cdc$time_ts": micros,
        "cdc$end_of_batch": True,
        "cdc$ttl": None,
        **dict(zip(desc.partition_keys, pk)),
    }

    def row(op, ck=(), seq=0, **cols):
        r = dict(base)
        r.update(zip(desc.clustering_keys, ck))
        r.update({"cdc$batch_seq_no": seq, "cdc$operation": int(op)}, **cols)
        return r

    kind = stmt[0]
    if kind in ("insert", "update"):
        cols = {}
        for c, v in stmt[3].items():
            if v is None:
                cols[f"cdc$deleted_{c}"] = True
            else:
                cols[c] = v
        op = Op.ROW_INSERT if kind == "insert" else Op.ROW_UPDATE
        return [row(op, stmt[2], **cols)]
    if kind == "row_delete":
        return [row(Op.ROW_DELETE, stmt[2])]
    if kind == "partition_delete":
        return [row(Op.PARTITION_DELETE)]
    (lo, lo_incl), (hi, hi_incl) = stmt[2], stmt[3]
    left = row(
        Op.ROW_RANGE_DELETE_INCLUSIVE_LEFT_BOUND
        if lo_incl
        else Op.ROW_RANGE_DELETE_EXCLUSIVE_LEFT_BOUND,
        lo,
    )
    left["cdc$end_of_batch"] = False
    right = row(
        Op.ROW_RANGE_DELETE_INCLUSIVE_RIGHT_BOUND
        if hi_incl
        else Op.ROW_RANGE_DELETE_EXCLUSIVE_RIGHT_BOUND,
        hi,
        seq=1,
    )
    return [left, right]


class LogWriter:
    """Publishes CDC log files into ``src_dir``.

    Each ``publish`` call takes whole statements' rows, appends roughly
    ``redeliver_frac`` as many rows re-sent from the last few files (the
    at-least-once redelivery the consumer's dedup must drop) and returns
    ``(path, created)``. ``log`` keeps every published path with its
    creation time and row counts."""

    def __init__(
        self,
        desc: CdcTableDescriptor,
        src_dir: str,
        staging_dir: str,
        rng: random.Random,
        redeliver_frac: float = 0.05,
        redeliver_window: int = 4,
    ):
        self.schema = arrow_schema(desc)
        self.src_dir = os.path.realpath(src_dir)  # as the file source logs it
        self.staging_dir = staging_dir
        self.rng = rng
        self.redeliver_frac = redeliver_frac
        self.redeliver_window = redeliver_window
        self._recent: list[list[list[dict]]] = []  # per file: statements' rows
        self.log: list[dict] = []
        self._mtime_ms = 0
        os.makedirs(src_dir, exist_ok=True)
        os.makedirs(staging_dir, exist_ok=True)

    def publish(self, stmt_rows: list[list[dict]]) -> tuple[str, float]:
        rows = [r for group in stmt_rows for r in group]
        n_events = len(rows)
        pool = [g for f in self._recent for g in f]
        redelivered = 0
        while pool and redelivered < self.redeliver_frac * n_events:
            group = self.rng.choice(pool)
            rows.extend(group)
            redelivered += len(group)
        self._recent = (self._recent + [stmt_rows])[-self.redeliver_window :]
        name = "part-%06d.parquet" % len(self.log)
        staged = os.path.join(self.staging_dir, name)
        table = pa.Table.from_pylist(rows, schema=self.schema)
        pq.write_table(table, staged)
        # the file source orders files by millisecond mtime: make it strictly
        # increasing so one-file batches replay the log in publish order
        self._mtime_ms = max(time.time_ns() // 1_000_000, self._mtime_ms + 1)
        os.utime(staged, ns=(self._mtime_ms * 1_000_000,) * 2)
        path = os.path.join(self.src_dir, name)
        os.replace(staged, path)
        created = time.time()
        self.log.append(
            {
                "path": path,
                "created": created,
                "events": n_events,
                "redelivered": redelivered,
            }
        )
        return path, created
