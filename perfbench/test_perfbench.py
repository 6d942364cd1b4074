"""Tests of the benchmark's own machinery: generator hygiene, the file
source log reader, metric parsing and the replay-oracle check.

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.parquet as pq
import pytest

import run

run._import_engine()

import gen  # noqa: E402
import tracing  # noqa: E402


def _write_files(tmp_path, desc, batches, redeliver_frac=0.0):
    """Publish one file per list of statements; times increase by 1 ms."""
    writer = gen.LogWriter(
        desc, str(tmp_path / "src"), str(tmp_path / "staging"), random.Random(0),
        redeliver_frac=redeliver_frac,
    )
    t0, serial = 1_700_000_000_000_000, 0
    for stmts in batches:
        rows = []
        for s in stmts:
            rows.append(gen.encode(desc, s, t0 + serial * 1000, serial))
            serial += 1
        writer.publish(rows)
    return writer


def test_generator_is_seeded_and_files_hold_whole_statements(tmp_path):
    desc = gen.TABLE_CK
    a = gen.DmlSource(desc, random.Random(7), 50, 4)
    b = gen.DmlSource(desc, random.Random(7), 50, 4)
    dml = [a.statement() for _ in range(600)]
    assert dml == [b.statement() for _ in range(600)]
    assert {s[0] for s in dml} == {
        "insert", "update", "row_delete", "partition_delete", "range_delete"
    }
    assert any(s[0] == "update" and None in s[3].values() for s in dml)

    writer = _write_files(tmp_path, desc, [dml[i : i + 100] for i in range(0, 600, 100)],
                          redeliver_frac=0.05)
    assert os.listdir(tmp_path / "staging") == []
    times_per_file = []
    for f in writer.log:
        t = pq.read_table(f["path"]).to_pydict()
        n_new = f["events"]
        times_per_file.append(set(t["cdc$time"][:n_new]))
        assert len(t["cdc$time"]) == n_new + f["redelivered"]
    for i, a_times in enumerate(times_per_file):
        for b_times in times_per_file[i + 1 :]:
            assert not a_times & b_times  # no cdc$time straddles two files
    redelivered = sum(f["redelivered"] for f in writer.log[1:])
    events = sum(f["events"] for f in writer.log[1:])
    assert 0.05 <= redelivered / events < 0.08
    mtimes = [os.stat(f["path"]).st_mtime_ns for f in writer.log]
    assert mtimes == sorted(set(mtimes))


def test_source_log_maps_files_to_batches_across_compaction_and_restart(tmp_path):
    src_dir = tmp_path / "sources" / "0"
    off_dir = tmp_path / "offsets"
    src_dir.mkdir(parents=True)
    off_dir.mkdir()

    def entries(*pairs):
        return "v1\n" + "\n".join(
            json.dumps({"path": f"file:///data/part-{p}.parquet", "timestamp": 1, "batchId": b})
            for p, b in pairs
        )

    (src_dir / "9.compact").write_text(entries(*[(i, i) for i in range(10)]))
    (src_dir / "10").write_text(entries((10, 10), (11, 10)))
    (src_dir / ".10.crc").write_text("ignored")
    # batches 0-9 read source offsets 0-9; batch 10 carried no data; the
    # query restarted and batch 11 read source offset 10
    for batch, offset in [*[(i, i) for i in range(10)], (10, 9), (11, 10)]:
        (off_dir / str(batch)).write_text(
            f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{offset}}}'
        )
    got = tracing.source_log(str(tmp_path))
    assert len(got) == 12
    assert got["/data/part-3.parquet"] == 3
    assert got["/data/part-11.parquet"] == 11


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,601", 1601.0),
        ("total (min, med, max (stageId: taskId))\n3.6 s (722 ms, 948 ms, 968 ms (stage 12.0: task 41))", 3600.0),
        ("total (min, med, max (stageId: taskId))\n74.5 KiB (2.5 KiB, 12.0 KiB, 14.3 KiB (stage 11.0: task 33))", 74.5 * 1024),
        ("35 ms", 35.0),
    ],
)
def test_metric_value_parses_status_store_strings(text, value):
    assert tracing.metric_value(text) == pytest.approx(value)


def test_compare_state_excuses_only_the_update_only_row_defect():
    desc = gen.TABLE_CK
    batches = [
        [
            ("insert", ("a",), (1,), {"v1": 1, "v2": "x"}),
            ("insert", ("c",), (1,), {"v1": 3, "v2": "z"}),
            ("update", ("d",), (1,), {"v1": 5}),  # a row without a marker
            ("insert", ("e",), (1,), {"v1": 4, "v2": "w"}),
            ("insert", ("f",), (1,), {"v1": None, "v2": None}),  # marker, NULL cells
            ("update", ("g",), (1,), {"v1": 6}),
            ("update", ("g",), (1,), {"v1": None}),  # emptied in the same batch
        ],
        [
            ("update", ("d",), (1,), {"v1": None}),  # emptied in a later batch
            ("row_delete", ("e",), (1,)),
            ("row_delete", ("f",), (1,)),
        ],
    ]
    null = {"v1": None, "v2": None}
    rows = [
        {"pk": "a", "ck": 1, "v1": 1, "v2": "x"},  # equal
        {"pk": "c", "ck": 1, "v1": 9, "v2": "z"},  # wrong cell
        {"pk": "d", "ck": 1, **null},  # the known defect
        {"pk": "e", "ck": 1, **null},  # a missed row delete
        {"pk": "f", "ck": 1, **null},  # a missed row delete of an all-NULL row
        {"pk": "g", "ck": 1, **null},  # no batch boundary: not the defect
    ]
    c = run.compare_state(desc, rows, batches)
    assert (c["oracle_rows"], c["differing"], c["update_only_rows"], c["unexpected"]) == (2, 5, 1, 4)
    assert [s["key"] for s in c["unexpected_sample"]] == [("c", 1), ("e", 1), ("f", 1), ("g", 1)]
    assert c["error_rate"] == 2.5


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = run.start_session(False, str(tmp_path_factory.mktemp("spark")))
    yield session
    run.stop_spark(session)


def _replicate(spark, tmp_path, batches):
    desc = gen.TABLE_CK
    writer = _write_files(tmp_path, desc, batches)
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    sink = run.TimedSink(ReplicatorSink(desc, str(tmp_path / "state"), n_buckets=run.N_BUCKETS))
    consumer = run.make_consumer(spark, desc, writer.src_dir, str(tmp_path / "ckpt"))
    query = consumer.with_throttle(1).trigger_available_now().start(sink)
    query.awaitTermination()
    assert query.exception() is None
    fb = tracing.source_log(str(tmp_path / "ckpt"))
    assert sorted(fb.values()) == list(range(len(batches)))  # one file per batch
    return run.compare_state(desc, sink.sink.current_state(spark).collect(), batches)


UPDATE_ONLY_CASE = [
    [
        ("update", ("a",), (1,), {"v1": 5}),  # creates a row without a marker
        ("insert", ("b",), (1,), {"v1": 1, "v2": "x"}),
    ],
    [("update", ("a",), (1,), {"v1": None})],  # empties it: the oracle drops it
]


def test_check_flags_update_only_row_across_two_batches(spark, tmp_path):
    c = _replicate(spark, tmp_path, UPDATE_ONLY_CASE)
    assert c["oracle_rows"] == 1 and c["replica_rows"] == 2
    assert c["update_only_rows"] == 1 and c["unexpected"] == 0
    assert c["error_rate"] == 1.0


def test_same_log_in_one_batch_matches_the_oracle(spark, tmp_path):
    c = _replicate(spark, tmp_path, [UPDATE_ONLY_CASE[0] + UPDATE_ONLY_CASE[1]])
    assert c["differing"] == 0 and c["error_rate"] == 0.0


def test_agg_stage_ms_reads_the_stage_that_runs_each_aggregate():
    def node(i, name, parent=None, inner=(), duration=None):
        metrics = {} if duration is None else {"duration": duration}
        return {"id": i, "name": name, "parent": parent, "inner": list(inner), "metrics": metrics}

    nodes = [
        node(0, "WriteFiles"),
        node(1, "WholeStageCodegen (3)", inner=[2], duration=900.0),
        node(2, "Project", parent=0),
        node(3, "SortAggregate", parent=2),  # final: runs inside stage (3)
        node(4, "WholeStageCodegen (2)", inner=[5], duration=300.0),
        node(5, "Sort", parent=3),
        node(6, "Exchange", parent=5),
        node(7, "SortAggregate", parent=6),  # partial: feeds a shuffle write
        node(8, "WholeStageCodegen (1)", inner=[9], duration=50.0),
        node(9, "HashAggregate", parent=7),  # fused: its own stage
    ]
    assert tracing.agg_stage_ms(nodes) == 950.0
