"""Task / checkpoint state model.

Mirrors the reference's read-cursor model:

* ``TaskId`` = (keyspace, table, generation start, vnode index), the
  reference's task key;
* ``TaskState`` = window ``[window_start, window_end)`` (epoch ms) +
  optional last consumed ChangeId (stream hex16 + timeuuid)
  (reference: scylla-cdc-base/.../model/worker/TaskState.java:12-21);
* TTL trim (P5): never position the cursor before ``now - ttl``
  (TaskState.trimTaskState, TaskState.java:104-116);
* window advance (T1): ``[end, end + window_size)``
  (TaskState.moveToNextWindow, TaskState.java:57-59);
* completion barrier (A3): ``hasPassed(until) := window_start > until``
  (TaskState.java:44-46).

In the Spark engine these are the *offsets* of the streaming source, and
the checkpointLocation's offset/commit logs persist them (K4); the batch
operators take the same values as plain filter bounds.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..functions.timeuuid import timeuuid_micros


@dataclass(frozen=True, order=True)
class TaskId:
    keyspace: str
    table: str
    generation_start_ms: int
    vnode: int


@dataclass(frozen=True)
class TaskState:
    window_start_ms: int
    window_end_ms: int
    last_consumed_stream_hex: str | None = None
    last_consumed_time: str | None = None  # canonical timeuuid string

    def has_passed(self, until_ms: int) -> bool:
        """A3 barrier predicate."""
        return self.window_start_ms > until_ms

    def move_to_next_window(self, window_size_ms: int) -> "TaskState":
        """T1: advance to [end, end + size), clearing the in-window cursor."""
        return TaskState(self.window_end_ms, self.window_end_ms + window_size_ms)

    def trim(self, min_start_ms: int, window_size_ms: int = 0) -> "TaskState":
        """P5 TTL trim, matching the reference's ``trimTaskState``
        (scylla-cdc-base TaskState handling): a window is left untouched
        unless it ended entirely before ``min_start_ms``; a fully-expired
        window resets to ``[min_start, min_start + window_size_ms)`` with
        the in-window cursor cleared."""
        if self.window_end_ms >= min_start_ms:
            return self
        return TaskState(min_start_ms, min_start_ms + window_size_ms)

    def last_consumed_micros(self) -> int | None:
        if self.last_consumed_time is None:
            return None
        return timeuuid_micros(self.last_consumed_time)

