"""Streaming keyed-state pairing operators (J1/J2).

The reference buffers per-StreamId state between changes:

* J1 range-delete pairing — the left bound row (op 5/6) is held in
  ``RangeDeleteState`` (scylla-cdc-replicator/.../RangeDeleteState.java:8-38)
  until the right bound (op 7/8) arrives, then one ranged DELETE is emitted
  (RangeDeleteEndOperationHandler.java:27-107).
* J2 post-image pairing — the delta row's statement kind is remembered in
  ``PostImageState`` (PostImageState.java:14-34) and applied when the
  following POST_IMAGE row (op 9) arrives.

Here each is a ``applyInPandasWithState`` operator keyed by
``cdc$stream_id``: state survives microbatch boundaries, so a left bound in
one batch pairs with a right bound arriving minutes later — the case the
batch ``lead()`` analog (operators.apply.pair_range_deletes) cannot cover.

Scale posture: state is O(streams), a few hundred bytes per stream — far
below the dedup operator's watermark-bounded state. The only shuffle is the
groupBy on the stream key, which the downstream apply would need anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model.schema import CdcTableDescriptor
from ..operators.normalize import TIME_MICROS, normalize_changes

_SEQ = "cdc$batch_seq_no"
_OP = "cdc$operation"


def _sorted_concat(pdf_iter):
    import pandas as pd

    pdf = pd.concat(list(pdf_iter), ignore_index=True)
    return pdf.sort_values([TIME_MICROS, _SEQ], kind="mergesort")


def pair_range_deletes_stream(changes: DataFrame, desc: CdcTableDescriptor) -> DataFrame:
    """J1 on a stream: emit one row per completed range delete.

    Output: partition keys, ``delete_time_micros``, ``left_inclusive`` /
    ``right_inclusive``, and ``left_<ck>`` / ``right_<ck>`` bounds — same
    shape as the batch analog ``operators.apply.pair_range_deletes``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    changes = normalize_changes(changes)
    bounds = changes.where(F.col(_OP).cast("int").isin([5, 6, 7, 8]))

    pk, ck = list(desc.partition_keys), list(desc.clustering_keys)
    pk_types = [desc.base_field(c).dataType for c in pk]
    ck_types = [desc.base_field(c).dataType for c in ck]

    out_schema = T.StructType(
        [T.StructField(c, t) for c, t in zip(pk, pk_types)]
        + [
            T.StructField("delete_time_micros", T.LongType()),
            T.StructField("left_inclusive", T.BooleanType()),
            T.StructField("right_inclusive", T.BooleanType()),
        ]
        + [T.StructField(f"left_{c}", t) for c, t in zip(ck, ck_types)]
        + [T.StructField(f"right_{c}", t) for c, t in zip(ck, ck_types)]
    )
    # pending left bound: pk values + ck bound + inclusivity + time
    state_schema = T.StructType(
        [T.StructField(f"pk_{i}", t) for i, t in enumerate(pk_types)]
        + [T.StructField(f"ck_{i}", t) for i, t in enumerate(ck_types)]
        + [
            T.StructField("left_inclusive", T.BooleanType()),
            T.StructField("time_micros", T.LongType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    n_pk, n_ck = len(pk), len(ck)
    pk_cols, ck_cols = pk, ck

    def fn(key, pdf_iter, state):
        import pandas as pd

        pdf = _sorted_concat(pdf_iter)
        pending = tuple(state.get) if state.exists else None
        out = []
        for _, row in pdf.iterrows():
            op = int(row[_OP])
            if op in (5, 6):
                pending = (
                    *[row[c] for c in pk_cols],
                    *[row[c] for c in ck_cols],
                    op == 5,
                    int(row[TIME_MICROS]),
                )
            elif op in (7, 8) and pending is not None:
                out.append(
                    (
                        *pending[:n_pk],  # pk from the left bound row
                        pending[n_pk + n_ck + 1],  # time
                        pending[n_pk + n_ck],  # left_inclusive
                        op == 7,
                        *pending[n_pk : n_pk + n_ck],  # left ck bound
                        *[row[c] for c in ck_cols],  # right ck bound
                    )
                )
                pending = None
        if pending is not None:
            state.update(pending)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(out, columns=out_cols)

    return bounds.groupBy("cdc$stream_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def pair_postimages_stream(changes: DataFrame, desc: CdcTableDescriptor) -> DataFrame:
    """J2 on a stream: tag each POST_IMAGE row (op 9) with the statement
    kind (insert=2 / update=1) remembered from the preceding delta row of
    its stream; the tagged full-row image is what the apply sink writes.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    changes = normalize_changes(changes)
    flow = changes.where(F.col(_OP).cast("int").isin([1, 2, 9]))

    base_cols = [f.name for f in desc.base_schema.fields]
    base_types = [desc.base_field(c).dataType for c in base_cols]
    out_schema = T.StructType(
        [T.StructField(c, t) for c, t in zip(base_cols, base_types)]
        + [
            T.StructField("image_time_micros", T.LongType()),
            T.StructField("stmt_kind", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_delta_op", T.IntegerType())])
    out_cols = [f.name for f in out_schema.fields]

    def fn(key, pdf_iter, state):
        import pandas as pd

        pdf = _sorted_concat(pdf_iter)
        remembered = state.get[0] if state.exists else None
        out = []
        for _, row in pdf.iterrows():
            op = int(row[_OP])
            if op in (1, 2):
                remembered = op
            elif op == 9 and remembered is not None:
                out.append(
                    (*[row[c] for c in base_cols], int(row[TIME_MICROS]), remembered)
                )
        if remembered is not None:
            state.update((remembered,))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(out, columns=out_cols)

    return flow.groupBy("cdc$stream_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
