"""Change application — the "replicator" as declarative aggregation.

Re-expresses the reference's replicator sink program (R1-R10, reference
scylla-cdc-replicator/.../ReplicatorConsumer.java:37-124 and the
operations/ handler tree) as batch DataFrame operators:

* ``materialize_lww`` — the fast path: row-granularity last-writer-wins
  materialization as a single aggregate (``max_by``) so Spark can partial-
  aggregate map-side before the one unavoidable shuffle on the key.
* ``pair_range_deletes`` — J1 batch analog: pair the two bound rows of a
  range delete per stream with ``lead()`` over the per-stream order
  (reference buffers the left bound in keyed state,
  RangeDeleteState.java:8-38).
* ``apply_cdc_log`` — the full-fidelity apply: cell-level CQL write
  semantics (insert/update/row-delete/partition-delete/range-delete,
  null-vs-unset via ``cdc$deleted_*``, non-frozen collection deltas,
  pre/post-image modes, TTL expiry). The reference writes every change as
  an idempotent ``USING TIMESTAMP`` statement
  (ExecutingPreparedStatementHandler.java:45-53): per-cell last-writer-wins
  with tombstone shadowing. That is ``max``/``max_by`` over
  ``(cdc$time, batch_seq_no)`` per primary key, per collection element and
  per UDT field, plus same-key joins — no Python anywhere, and
  at-least-once redelivery (P2) deduplicates for free.

Scale posture: every aggregate partial-aggregates map-side before its
shuffle on the key. Clustering-key tables add one join of the distinct row
keys with their partition's range/partition tombstones (sized by keys
times the tombstones of their partition); its hits enter the aggregation
as row deletes. Skewed partitions degrade like hot CQL partitions and AQE
skew handling applies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model.ops import OperationType
from ..model.schema import (
    DELETED_ELEMENTS_PREFIX,
    DELETED_PREFIX,
    CdcTableDescriptor,
)
from .normalize import TIME_MICROS, normalize_changes

_SEQ = "cdc$batch_seq_no"
_OP = "cdc$operation"


def materialize_lww(
    changes: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    time_col: str = TIME_MICROS,
    seq_col: str = _SEQ,
    op_col: str = _OP,
    delete_ops: tuple[int, ...] = (int(OperationType.ROW_DELETE), int(OperationType.PARTITION_DELETE)),
) -> DataFrame:
    """Row-granularity LWW materialization (fast path).

    One aggregation: for each key keep the latest change by
    ``(time, seq)`` via ``max_by`` (partial-aggregatable — no window, no
    per-key row explosion), then drop keys whose latest change is a delete.
    """
    ord_expr = F.struct(F.col(time_col), F.col(seq_col))
    picked = F.max_by(
        F.struct(F.col(op_col).alias("op"), *[F.col(c).alias(c) for c in value_cols]),
        ord_expr,
    ).alias("last")
    agg = changes.groupBy(*key_cols).agg(picked)
    alive = agg.where(~F.col("last.op").cast("int").isin(list(delete_ops)))
    return alive.select(*key_cols, *[F.col(f"last.{c}").alias(c) for c in value_cols])


def pair_range_deletes(changes: DataFrame, desc: CdcTableDescriptor) -> DataFrame:
    """J1: pair left/right range-delete bound rows per stream.

    Emits one row per completed range delete with the partition key, the
    left/right clustering bounds and their inclusivity. Unmatched left
    bounds (right bound outside the read window) are dropped, matching the
    reference's buffer-until-right-bound behavior.
    """
    changes = normalize_changes(changes)
    bounds = changes.where(F.col(_OP).cast("int").isin([5, 6, 7, 8]))
    w = Window.partitionBy("cdc$stream_id").orderBy(F.col(TIME_MICROS), F.col(_SEQ))
    ck = desc.clustering_keys
    nxt = lambda c: F.lead(c).over(w)  # noqa: E731
    paired = (
        bounds.withColumn("next_op", nxt(F.col(_OP)))
        .withColumns({f"right_{c}": nxt(F.col(c)) for c in ck})
        .where(F.col(_OP).cast("int").isin([5, 6]) & F.col("next_op").cast("int").isin([7, 8]))
    )
    sel = [
        *desc.partition_keys,
        F.col(TIME_MICROS).alias("delete_time_micros"),
        (F.col(_OP).cast("int") == 5).alias("left_inclusive"),
        (F.col("next_op").cast("int") == 7).alias("right_inclusive"),
    ]
    sel += [F.col(c).alias(f"left_{c}") for c in ck]
    sel += [F.col(f"right_{c}") for c in ck]
    return paired.select(*sel)


def _plain_desc(desc: CdcTableDescriptor) -> dict:
    """Classify each regular column by how the apply merges it — scalar
    (whole-cell LWW), set / map / list (per-element LWW) or udt (per-field
    LWW) — and list each UDT's field names."""
    kinds = {}
    for col in desc.regular_columns:
        dt = desc.base_field(col).dataType
        if col in desc.list_columns:
            kinds[col] = "list"
        elif col in desc.non_frozen_collections and isinstance(dt, T.ArrayType):
            kinds[col] = "set"
        elif col in desc.non_frozen_collections and isinstance(dt, T.MapType):
            kinds[col] = "map"
        elif col in desc.non_frozen_collections and isinstance(dt, T.StructType):
            kinds[col] = "udt"
        else:
            kinds[col] = "scalar"
    return {
        "pk": list(desc.partition_keys),
        "ck": list(desc.clustering_keys),
        "regular": list(desc.regular_columns),
        "kinds": kinds,
        "udt_fields": {
            col: [f.name for f in desc.base_field(col).dataType.fields]
            for col in desc.regular_columns
            if isinstance(desc.base_field(col).dataType, T.StructType)
        },
    }


def _join_nullsafe(left: DataFrame, right: DataFrame, cols: list[str], how: str = "left") -> DataFrame:
    """Same-key join that treats NULL keys as EQUAL (a plain column-list
    join silently drops NULL-key groups — NULL = NULL is NULL). Real CDC
    primary keys are never null, but the apply must stay total on
    arbitrary adapter-synthesized logs, where ``groupBy`` already keeps a
    NULL key as one group (as ``replay_dml`` does) — the joins that stitch
    those groups back together have to agree with it."""
    r = right
    for c in cols:
        r = r.withColumnRenamed(c, f"__rns_{c}")
    cond = None
    for c in cols:
        e = F.col(c).eqNullSafe(F.col(f"__rns_{c}"))
        cond = e if cond is None else (cond & e)
    return left.join(r, cond, how).drop(*[f"__rns_{c}" for c in cols])


def _tombstones(changes: DataFrame, pk: list[str], ck: list[str]) -> DataFrame:
    """Clustering-range tombstones per partition: one row per paired range
    delete (bounds ``__l_<ck>`` / ``__h_<ck>``, inclusivity ``__li`` /
    ``__hi``, the right bound's ``(t, s)`` as ``__o``) and one per
    partition delete, as an unbounded inclusive range at its own
    ``(t, s)``. A left bound pairs with the next op 4-8 row of its
    partition in (time, seq) order when that row is a right bound, as the
    reference's RangeDeleteState does per stream (a partition lives in one
    stream): a duplicate delivery pairs once, and a partition delete
    between two bounds breaks their pair."""
    opI = F.col(_OP).cast("int")
    w = Window.partitionBy(*pk).orderBy(F.col(TIME_MICROS), F.col(_SEQ))
    own = F.struct(F.col(TIME_MICROS).alias("t"), F.col(_SEQ).cast("int").alias("s"))
    nop = F.lead(opI).over(w)
    pair = opI.isin(5, 6) & nop.isin(7, 8)
    part = opI == 4
    return (
        changes.where(opI.between(4, 8))
        .select(
            *pk,
            *[F.when(pair, F.col(c)).alias(f"__l_{c}") for c in ck],
            *[F.when(pair, F.lead(c).over(w)).alias(f"__h_{c}") for c in ck],
            (part | (opI == 5)).alias("__li"),
            (part | (nop == 7)).alias("__hi"),
            F.when(part, own).otherwise(F.lead(own).over(w)).alias("__o"),
            (pair | part).alias("__tomb"),
        )
        .where("__tomb")
        .drop("__tomb")
    )


def _in_range(ck: list[str], is_left: bool) -> Column:
    """Whether the row's clustering key lies on the inner side of a
    tombstone's left (or right) bound, in CQL prefix order: a NULL bound
    component leaves the rest of the key unbounded (the bound's
    inclusivity decides), and a NULL key component sorts first."""
    side = "l" if is_left else "h"
    inclusive = F.col(f"__{side}i")
    ok = inclusive
    for c in reversed(ck):
        a, b = F.col(c), F.col(f"__{side}_{c}")
        ok = (
            F.when(b.isNull(), inclusive)
            .when(a.isNull(), F.lit(not is_left))
            .when(a == b, ok)
            .otherwise(a > b if is_left else a < b)
        )
    return ok


def _apply_native(
    changes: DataFrame, d: dict, with_version: bool, as_of: int | None, out_cols: list[str]
) -> DataFrame:
    """Cell-granularity last-writer-wins apply as aggregation.

    * per (pk, ck): latest row tombstone ``(t, seq)`` (row delete; on a
      table without clustering keys a partition delete too), latest marker
      write (insert / op-9 image), and per scalar column the latest
      *written* state (a value, or an explicit ``cdc$deleted_*`` tombstone;
      op-9 images write every column);
    * on clustering-key tables, each range / partition delete enters the
      aggregation as a row delete of every key its clustering range holds;
      ``__D`` is the latest row tombstone;
    * each set / map / list column: explode payload entries (adds) and
      ``cdc$deleted_elements_*`` (removes) into (key, element) actions,
      keep the latest action per element, drop elements whose latest
      action predates the column's latest *reset* (whole-collection
      overwrite / op-9 image) or ``__D``, then re-collect — sets sorted,
      maps as maps, lists ordered by the timeuuid key (O3);
    * non-frozen UDTs: per-field LWW (field writes vs ``remove_idx`` field
      clears vs overwrite resets) — fields are a static domain, no explode;
    * a cell is live iff its last write is newer than ``__D``, carried a
      value and, when ``as_of`` is given, has not expired: each write's
      ``write_time + cdc$ttl`` rides inside the payload it sets (cell
      value, marker, element, UDT field). The row is emitted iff the
      marker or any cell is live.
    """
    from ..functions.timeuuid import timeuuid_micros_col

    pk, ck, regular, kinds = d["pk"], d["ck"], d["regular"], d["kinds"]
    key = [*pk, *ck]
    opI = F.col(_OP).cast("int")
    ord_struct = F.struct(
        F.col(TIME_MICROS).alias("t"), F.col(_SEQ).cast("int").alias("s")
    )
    neg = F.struct(
        F.lit(-(2**63)).cast("long").alias("t"), F.lit(0).cast("int").alias("s")
    )
    is_write = opI.isin(1, 2, 9)
    is_marker = opI.isin(2, 9)
    is_rowdel = opI == 3 if ck else opI.isin(3, 4)
    ttl = as_of is not None and "cdc$ttl" in changes.columns
    expiry = (
        F.when(F.col("cdc$ttl") != 0, F.col(TIME_MICROS) + F.col("cdc$ttl") * 1_000_000)
        if ttl
        else F.lit(None)
    ).cast("long")

    def unexpired(e: Column) -> Column:
        return e.isNull() | (e > F.lit(as_of)) if ttl else F.lit(True)

    def dcol(c):
        name = f"{DELETED_PREFIX}{c}"
        return F.col(name) if name in changes.columns else F.lit(None).cast("boolean")

    def ecol(c):
        name = f"{DELETED_ELEMENTS_PREFIX}{c}"
        return F.col(name) if name in changes.columns else F.lit(None)

    def lww(name: str, cond: Column, value: Column) -> list[Column]:
        # last write under ``cond``: its (t, s) and its value (with expiry)
        o = F.when(cond, ord_struct)
        payload = F.struct(value.alias("v"), expiry.alias("e")) if ttl else value
        return [F.max(o).alias(f"__w_{name}"), F.max_by(payload, o).alias(f"__v_{name}")]

    def cell(name: str) -> Column:
        v = F.col(f"__v_{name}")
        live = F.col(f"__w_{name}") > F.col("__D")
        if ttl:
            live, v = live & unexpired(v["e"]), v["v"]
        return F.when(live, v)

    writes_only = changes.where(is_write)
    if ck:
        # range and partition deletes become row deletes of the keys they
        # cover, at the tombstone's (t, s) — the base aggregation's __del
        # then shadows cells exactly as an explicit row delete would
        covered = (
            _join_nullsafe(changes.select(*key).distinct(), _tombstones(changes, pk, ck), pk, "inner")
            .where(_in_range(ck, True) & _in_range(ck, False))
            .groupBy(*key)
            .agg(F.max("__o").alias("__o"))
        )
        changes = changes.unionByName(
            covered.select(
                *key,
                F.col("__o.t").alias(TIME_MICROS),
                F.col("__o.s").alias(_SEQ),
                F.lit(3).cast(changes.schema[_OP].dataType).alias(_OP),
            ),
            allowMissingColumns=True,
        )

    # ---- base aggregation: tombstones, marker, scalars, UDT fields, resets
    marker_o = F.when(is_marker, ord_struct)
    aggs = [
        F.max(F.when(is_rowdel, ord_struct)).alias("__del"),
        F.max(marker_o).alias("__marker"),
        F.max(F.when(is_write, F.col(TIME_MICROS))).alias("__ver"),
    ]
    if ttl:
        aggs.append(F.max_by(expiry, marker_o).alias("__mexp"))
    for c in regular:
        kind = kinds[c]
        if kind == "scalar":
            written = is_write & (
                F.col(c).isNotNull() | F.coalesce(dcol(c), F.lit(False)) | (opI == 9)
            )
            aggs += lww(c, written, F.col(c))
        elif kind == "udt":
            # per-field LWW: a field action is a non-null field write, a
            # remove_idx clear, or an overwrite/image reset without it
            for i, fname in enumerate(d["udt_fields"][c]):
                fval = F.col(c)[fname]
                f_set = is_write & fval.isNotNull()
                f_clr = is_write & (
                    F.array_contains(
                        F.coalesce(ecol(c), F.array().cast("array<short>")),
                        F.lit(i).cast("short"),
                    )
                    | (
                        ((opI == 9) | F.coalesce(dcol(c), F.lit(False)))
                        & fval.isNull()
                    )
                )
                # a clear in the same row as a payload write wins (the
                # reference applies removed indices after field writes)
                eff = F.when(f_clr, F.lit(None)).otherwise(fval)
                aggs += lww(f"{c}__{fname}", f_set | f_clr, eff)
        else:  # set / map / list: reset watermark only; elements aggregate below
            reset = is_write & ((opI == 9) | F.coalesce(dcol(c), F.lit(False)))
            aggs.append(F.max(F.when(reset, ord_struct)).alias(f"__rst_{c}"))
    base = changes.groupBy(*key).agg(*aggs).withColumn("__D", F.coalesce(F.col("__del"), neg))

    # ---- per-collection element aggregation, joined back on the key
    coll_cols = [c for c in regular if kinds[c] in ("set", "map", "list")]
    for c in coll_cols:
        kind = kinds[c]
        if kind == "set":
            ev_null = F.lit(None).cast("string")  # sets carry no element value
            adds = writes_only.where(F.col(c).isNotNull()).select(
                *key, ord_struct.alias("__o"), F.explode(c).alias("ek"),
                F.lit(True).alias("ia"), ev_null.alias("ev"), expiry.alias("e"),
            )
            rems = writes_only.where(ecol(c).isNotNull()).select(
                *key, ord_struct.alias("__o"), F.explode(ecol(c)).alias("ek"),
                F.lit(False).alias("ia"), ev_null.alias("ev"),
                F.lit(None).cast("long").alias("e"),
            )
        else:  # map / list: payload is map<k, v>; removes are key arrays
            adds = writes_only.where(F.col(c).isNotNull()).select(
                *key, ord_struct.alias("__o"),
                F.explode(F.map_entries(F.col(c))).alias("kv"),
                F.lit(True).alias("ia"), expiry.alias("e"),
            ).select(
                *key, "__o", F.col("kv.key").alias("ek"), "ia",
                F.col("kv.value").alias("ev"), "e",
            )
            rems = writes_only.where(ecol(c).isNotNull()).select(
                *key, ord_struct.alias("__o"), F.explode(ecol(c)).alias("ek"),
                F.lit(False).alias("ia"),
                F.lit(None).cast(adds.schema["ev"].dataType).alias("ev"),
                F.lit(None).cast("long").alias("e"),
            )
        acts = adds.unionByName(rems)
        # tie-break within one change row: the remove side of a single
        # update applies after its add side (reference handler order)
        act_ord = F.struct(F.col("__o"), (~F.col("ia")).cast("int").alias("rm"))
        last = acts.groupBy(*key, "ek").agg(
            F.max("__o").alias("__lo"),
            F.max_by(F.struct(F.col("ia"), F.col("ev"), F.col("e")), act_ord).alias("__la"),
        )
        cut = _join_nullsafe(
            last, base.select(*key, "__D", F.col(f"__rst_{c}").alias("__r")), key
        ).where(
            F.col("__la.ia")
            & (F.col("__lo") > F.col("__D"))
            & (F.col("__lo") >= F.coalesce(F.col("__r"), neg))
            & unexpired(F.col("__la.e"))
        )
        if kind == "set":
            coll = cut.groupBy(*key).agg(
                F.sort_array(F.collect_list("ek")).alias(f"__c_{c}")
            )
        elif kind == "map":
            coll = cut.groupBy(*key).agg(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("ek"), F.col("__la.ev")))
                    )
                ).alias(f"__c_{c}")
            )
        else:  # list: order elements by the timeuuid key's time component
            ent = F.struct(
                timeuuid_micros_col(F.col("ek")).alias("tm"),
                F.col("ek").alias("k"),
                F.col("__la.ev").alias("v"),
            )
            coll = cut.groupBy(*key).agg(
                F.transform(
                    F.array_sort(F.collect_list(ent)), lambda x: x["v"]
                ).alias(f"__c_{c}")
            )
        base = _join_nullsafe(base, coll, key)

    # ---- assemble output
    marker_alive = F.coalesce(F.col("__marker") > F.col("__D"), F.lit(False))
    if ttl:
        marker_alive = marker_alive & unexpired(F.col("__mexp"))
    vals: dict[str, Column] = {}
    for c in regular:
        kind = kinds[c]
        if kind == "scalar":
            vals[c] = cell(c)
        elif kind == "udt":
            fvals = {fn: cell(f"{c}__{fn}") for fn in d["udt_fields"][c]}
            any_field = F.lit(False)
            for v in fvals.values():
                any_field = any_field | v.isNotNull()
            vals[c] = F.when(any_field, F.struct(*[v.alias(fn) for fn, v in fvals.items()]))
        else:
            ccol = F.col(f"__c_{c}")
            vals[c] = F.when(F.size(ccol) > 0, ccol)
    any_cell = F.lit(False)
    for c in regular:
        any_cell = any_cell | vals[c].isNotNull()
    sel = [*key]
    if with_version:
        sel.append(F.col("__ver").alias(TIME_MICROS))
    sel += [vals[c].alias(c) for c in regular]
    out = base.where(marker_alive | any_cell).select(*sel)
    return out.select(*out_cols)


def apply_cdc_log(
    changes: DataFrame,
    desc: CdcTableDescriptor,
    mode: str = "delta",
    initial_state: DataFrame | None = None,
    with_version_col: bool = False,
    as_of_micros: int | None = None,
) -> DataFrame:
    """Apply a CDC change log to (optional) initial state → current state.

    ``mode``: ``delta`` (ops 1-8; images ignored, R9), ``postimage``
    (op 9 replaces ops 1/2 as a full-row write, deletes still apply — R8).
    Output schema = the base-table schema (list columns materialized back
    to arrays in timeuuid order, O3).

    ``with_version_col=True`` appends ``cdc$time_micros`` = the time of the
    last change applied to each surviving row. Feeding that state back as
    ``initial_state`` of a later apply makes incremental application
    convergent under at-least-once replay at *row* granularity — the Spark
    analog of the reference's idempotent ``USING TIMESTAMP`` writes
    (ExecutingPreparedStatementHandler.java:45-53), which are convergent at
    *cell* granularity. A replayed change older than the row's version
    loses to the seeded row's whole-row image.

    ``as_of_micros`` enables TTL visibility: a write carrying ``cdc$ttl``
    (seconds — the reference passes it through verbatim via ``USING TTL``,
    InsertOperationHandler.java:15-48) expires its scalar cells and, for
    inserts, the row marker at ``write_time + ttl``; cells/markers expired
    at ``as_of_micros`` are invisible in the output. ``None`` (default)
    skips expiry evaluation. Collection *elements* inherit the TTL of the
    write that last set them (per-element expiry, the reference's
    ``USING TTL`` pass-through on collection writes,
    ExecutingPreparedStatementHandler.java:45-53) — expired set/map/list
    elements and UDT fields vanish from the materialized value.
    """
    if mode not in ("delta", "postimage"):
        raise ValueError(f"unknown mode {mode!r}")
    d = _plain_desc(desc)
    changes = normalize_changes(changes)

    if mode == "delta":
        changes = changes.where(~F.col(_OP).cast("int").isin([0, 9]))
    else:
        changes = changes.where(~F.col(_OP).cast("int").isin([0, 1, 2]))

    # Project to the columns the apply needs; column pruning reaches the scan.
    deleted_cols = [
        c
        for c in changes.columns
        if c.startswith(DELETED_PREFIX) and not c.startswith(DELETED_ELEMENTS_PREFIX)
    ]
    delem_cols = [c for c in changes.columns if c.startswith(DELETED_ELEMENTS_PREFIX)]
    base_cols = [f.name for f in desc.base_schema.fields]
    keep = [TIME_MICROS, _SEQ, _OP, "cdc$ttl", *base_cols, *deleted_cols, *delem_cols]
    changes = changes.select(*[c for c in keep if c in changes.columns])

    if initial_state is not None:
        # Seed rows enter as POST_IMAGE (op 9) full-row images: they apply
        # as whole-row overwrites, so any *replayed* change older than the
        # row's version (which the seed already reflects) is clobbered by
        # the seed rather than merged — the delta semantics that would
        # otherwise resurrect tombstoned cells.
        seed = initial_state
        for c in desc.list_columns:
            if c in seed.columns and isinstance(seed.schema[c].dataType, T.ArrayType):
                # materialized list (array) → log encoding map<timeuuid,elem>;
                # synthetic v1 uuids with time=i keep element order and sort
                # before any real append timeuuid (~1.4e17 in uuid time units).
                seed = seed.withColumn(
                    c,
                    F.map_from_arrays(
                        F.transform(
                            F.col(c),
                            lambda x, i: F.format_string(
                                "%08x-0000-1000-8000-000000000000", i
                            ),
                        ),
                        F.col(c),
                    ),
                )
        for c in changes.columns:
            if c not in seed.columns and c not in (_SEQ, _OP):
                if c == TIME_MICROS:
                    seed = seed.withColumn(c, F.lit(-(2**62)).cast("long"))
                else:
                    seed = seed.withColumn(c, F.lit(None).cast(changes.schema[c].dataType))
        # max-int seq: the seed wins (time, seq) ties against a replayed
        # copy of the exact change it already reflects
        seed = seed.withColumn(_SEQ, F.lit(2**31 - 1)).withColumn(
            _OP, F.lit(int(OperationType.POST_IMAGE)).cast("byte")
        )
        changes = changes.unionByName(seed.select(*changes.columns))

    out_cols = [f.name for f in desc.base_schema.fields]
    if with_version_col:
        out_cols.append(TIME_MICROS)
    return _apply_native(changes, d, with_version_col, as_of_micros, out_cols)
