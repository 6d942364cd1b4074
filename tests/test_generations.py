"""Master-loop planning tests, mirroring the reference's MasterTest
(scylla-cdc-base/src/test/.../model/master/MasterTest.java): discovery,
grouping, TTL skip, completion barrier, rollover."""

from __future__ import annotations

from scylla_cdc_java_spark.functions.streamid import make_stream_id
from scylla_cdc_java_spark.model.generations import (
    GenerationCatalog,
    GenerationMetadata,
    MasterDecision,
    all_tasks_consumed_until,
    group_streams_to_tasks,
    run_master_step,
)
from scylla_cdc_java_spark.model.state import TaskId, TaskState


def _gen(start, end, vnodes=(0, 1), per_vnode=2):
    ids = tuple(
        make_stream_id(v, index=i) for v in vnodes for i in range(per_vnode)
    )
    return GenerationMetadata(start, end, ids)


def test_smallest_after_and_resume():
    cat = GenerationCatalog([_gen(100, 200), _gen(200, None), _gen(50, 100)])
    assert cat.smallest_after(-1).start_ms == 50
    assert cat.smallest_after(50).start_ms == 100
    assert cat.smallest_after(100).start_ms == 200
    assert cat.smallest_after(200) is None


def test_group_streams_by_vnode_sorted():
    gen = _gen(100, None, vnodes=(3, 7), per_vnode=3)
    tasks = group_streams_to_tasks("ks", "t", gen)
    assert set(t.vnode for t in tasks) == {3, 7}
    for tid, streams in tasks.items():
        assert tid.generation_start_ms == 100
        assert list(streams) == sorted(streams)
        assert len(streams) == 3


def test_master_step_transitions():
    cat = GenerationCatalog([_gen(100, 200), _gen(200, None)])

    # nothing known yet -> wait
    empty = GenerationCatalog([])
    assert run_master_step(empty, None, {}, now_ms=0).action == "wait_first"

    # cold start -> adopt first generation
    d = run_master_step(cat, None, {}, now_ms=0)
    assert d.action == "rollover" and d.next_generation.start_ms == 100

    # current closed, tasks not yet past its end -> wait
    tid = TaskId("ks", "t", 100, 0)
    behind = {tid: TaskState(window_start_ms=150, window_end_ms=180)}
    assert run_master_step(cat, 100, behind, now_ms=10**9).action == "wait_consumed"

    # tasks past the end -> rollover to next
    ahead = {tid: TaskState(window_start_ms=201, window_end_ms=231)}
    d = run_master_step(cat, 100, ahead, now_ms=10**9)
    assert d.action == "rollover" and d.next_generation.start_ms == 200

    # open generation -> steady state
    assert run_master_step(cat, 200, {}, now_ms=10**9).action == "steady"


def test_master_step_ttl_skip():
    """P6: a closed generation older than now - ttl rolls over even with
    unconsumed tasks (reference generationTTLExpired)."""
    cat = GenerationCatalog([_gen(100, 200), _gen(200, None)])
    tid = TaskId("ks", "t", 100, 0)
    behind = {tid: TaskState(window_start_ms=110, window_end_ms=140)}
    d = run_master_step(cat, 100, behind, now_ms=10_000, min_ttl_ms=1_000)
    assert d.action == "rollover" and d.next_generation.start_ms == 200
    # ttl not yet elapsed -> still waiting
    d2 = run_master_step(cat, 100, behind, now_ms=10_000, min_ttl_ms=20_000)
    assert d2.action == "wait_consumed"


def test_barrier_predicate():
    a, b = TaskId("ks", "t", 1, 0), TaskId("ks", "t", 1, 1)
    states = {
        a: TaskState(window_start_ms=250, window_end_ms=280),
        b: TaskState(window_start_ms=199, window_end_ms=229),
    }
    assert not all_tasks_consumed_until(states, 200)
    states[b] = TaskState(window_start_ms=201, window_end_ms=231)
    assert all_tasks_consumed_until(states, 200)
    # a task id the generation expects but no worker has persisted counts
    # as NOT consumed (reference areTasksFullyConsumedUntil); an empty
    # state map is never vacuously consumed on a fresh restart.
    c = TaskId("ks", "t", 1, 2)
    assert not all_tasks_consumed_until(states, 200, expected={a, b, c})
    assert all_tasks_consumed_until(states, 200, expected={a, b})
    assert not all_tasks_consumed_until({}, 200)


def test_master_step_fresh_restart_not_vacuously_consumed():
    """A closed generation with no persisted task states must NOT roll
    over before any worker has consumed it (fresh-restart race)."""
    cat = GenerationCatalog([_gen(100, 200), _gen(200, None)])
    d = run_master_step(cat, 100, {}, now_ms=10**9)
    assert d.action == "wait_consumed"


def test_catalog_from_dataframe(spark):
    rows = [
        (100, 200, bytearray(make_stream_id(0, index=1))),
        (100, 200, bytearray(make_stream_id(1, index=2))),
        (200, None, bytearray(make_stream_id(0, index=3))),
    ]
    df = spark.createDataFrame(
        rows, "start_ms long, end_ms long, stream_id binary"
    )
    cat = GenerationCatalog.from_dataframe(df)
    g = cat.generation_at(100)
    assert g.end_ms == 200 and len(g.stream_ids) == 2
    assert cat.generation_at(200).end_ms is None


def test_v1_v2_discovery_dispatch(spark):
    """S6: the same two generations described in legacy V1 layout (full
    stream set per row, ends implicit) and V2 layout must yield identical
    task plans; the 'rewritten' probe skips V1; un-rewritten V1-only
    generations merge in ahead of V2 ones."""
    s1, s2, s3 = (make_stream_id(0, index=1), make_stream_id(1, index=2),
                  make_stream_id(0, index=3))
    v2_rows = [
        (100, 200, bytearray(s1)),
        (100, 200, bytearray(s2)),
        (200, None, bytearray(s3)),
    ]
    v2_df = spark.createDataFrame(v2_rows, "start_ms long, end_ms long, stream_id binary")
    v1_rows = [
        (100, [bytearray(s1), bytearray(s2)]),
        (200, [bytearray(s3)]),
    ]
    v1_df = spark.createDataFrame(v1_rows, "time_ms long, streams array<binary>")

    cat_v2 = GenerationCatalog.discover(v2_df=v2_df)
    cat_v1 = GenerationCatalog.discover(v1_df=v1_df)
    for start in (100, 200):
        a, b = cat_v1.generation_at(start), cat_v2.generation_at(start)
        assert (a.start_ms, a.end_ms, a.stream_ids) == (b.start_ms, b.end_ms, b.stream_ids)
        assert group_streams_to_tasks("ks", "t", a) == group_streams_to_tasks("ks", "t", b)

    # rewritten probe: legacy table is ignored entirely
    older = spark.createDataFrame(
        [(50, [bytearray(s1)])], "time_ms long, streams array<binary>"
    )
    assert GenerationCatalog.discover(v2_df=v2_df, v1_df=older, rewritten=True).generation_at(50) is None

    # un-rewritten: the V1-only generation merges in and closes at the
    # next known start
    merged = GenerationCatalog.discover(v2_df=v2_df, v1_df=older)
    g50 = merged.generation_at(50)
    assert g50 is not None and g50.end_ms == 100
    assert merged.generation_at(100).end_ms == 200


def test_table_controller_tablet_mode():
    """S7/T7: per-table generations; tablets appearing mid-generation
    surface as added tasks for the running worker."""
    from scylla_cdc_java_spark.model.generations import TableCDCController

    ctl = TableCDCController()
    gen_v1 = _gen(100, None, vnodes=(0,), per_vnode=2)
    ctl.set_catalog("ks", "t1", GenerationCatalog([gen_v1]))
    ctl.set_catalog("ks", "t2", GenerationCatalog([]))

    # per-table decisions are independent
    assert ctl.step("ks", "t1", None, {}, now_ms=0).action == "rollover"
    assert ctl.step("ks", "t2", None, {}, now_ms=0).action == "wait_first"

    # initial schedule for t1's generation
    tasks = group_streams_to_tasks("ks", "t1", gen_v1)
    assert ctl.added_tasks("ks", "t1", 100, set(tasks)) == ()

    # a new tablet (vnode 5) appears in the SAME generation -> new task
    gen_v2 = GenerationMetadata(
        100, None, gen_v1.stream_ids + (make_stream_id(5, index=9),)
    )
    ctl.set_catalog("ks", "t1", GenerationCatalog([gen_v2]))
    added = ctl.added_tasks("ks", "t1", 100, set(tasks))
    assert len(added) == 1 and added[0].vnode == 5


def test_empty_generation_rolls_through_without_stalling():
    """EmptyGenerationIT analog (scylla-cdc-lib/src/test/java/com/scylladb/
    cdc/lib/EmptyGenerationIT.java): fake generations with NO streams —
    one sorting before all real ones, one after — must not stall the
    master loop; the consumer passes through each empty era and keeps
    delivering the real generation's changes."""
    empty_early = GenerationMetadata(10, 100, ())
    real = _gen(100, 200)
    empty_late = GenerationMetadata(200, 300, ())
    open_gen = _gen(300, None)
    cat = GenerationCatalog([empty_early, real, empty_late, open_gen])

    # cold start adopts the EARLY empty generation first
    d = run_master_step(cat, None, {}, now_ms=10**9)
    assert d.action == "rollover" and d.next_generation.start_ms == 10

    # an empty generation has zero tasks: the A3 barrier is vacuously
    # satisfied and the master immediately rolls to the real generation
    tasks_early = group_streams_to_tasks("ks", "t", empty_early)
    assert tasks_early == {}
    d = run_master_step(
        cat, 10, {}, now_ms=10**9, expected_tasks=set(tasks_early)
    )
    assert d.action == "rollover" and d.next_generation.start_ms == 100

    # the real generation consumes normally, then rolls into the LATE
    # empty generation...
    tids = list(group_streams_to_tasks("ks", "t", real))
    done = {t: TaskState(window_start_ms=250, window_end_ms=260) for t in tids}
    d = run_master_step(cat, 100, done, now_ms=10**9, expected_tasks=set(tids))
    assert d.action == "rollover" and d.next_generation.start_ms == 200

    # ...which again rolls straight through to the open generation
    d = run_master_step(cat, 200, {}, now_ms=10**9, expected_tasks=set())
    assert d.action == "rollover" and d.next_generation.start_ms == 300

    # the open generation is steady state — no stall anywhere
    d = run_master_step(cat, 300, {}, now_ms=10**9)
    assert d.action == "steady"
